#!/usr/bin/env python
"""Measure the sf0.1 -> sf1.0 scaling of the most expensive registry
keys (r11). One decade of measured data per operator family turns the
plan-shape 100-TB argument in SCALE.md into evidence.

Prints one line per key: name, t(sf0.1), t(sf1.0), ratio. Data grows
10x, cores are fixed (local[32]), so near-linear work shows a ratio
<= ~12 (10x work + shuffle/log overheads); a ratio well above that
flags super-linear cost (pair blowup, driver iteration growth).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

KEYS = [
    "q_llm_dup_clusters",
    "q_llm_bpe_apply",
    "q_llm_winnow",
    "q_llm_semdedup",
    "q_llm_trigram_lm",
    # relational core (r11 second wave — 10x fact tables, fixed dims)
    "q_tpch_q18",
    "q_tpch_q21",
    "q_asof_join",
    "q_events_sessionize",
    "q_events_pattern_rows",
    "q_llm_dedup_near",
    # r11 third wave: DSIR — the broadcast-model scoring shape
    "q_llm_dsir",
    # r12: the three compute-amplified map-stage keys sharing winnow's
    # shape that were never probed — measurement decides whether
    # spread_if_narrow pays (the shingle-index counterexample measured
    # 1.3x SLOWER with a spread, so no fix ships without a ratio).
    "q_llm_repetition",
    "q_llm_fingerprint",
    "q_llm_quality_clf",
    # r12 second wave: the new LLM ops
    "q_llm_dup_clusters_lsh",
    "q_llm_ccnet_buckets",
    "q_llm_substring_spans",
    # r13: deterministic k-means — iterative corpus-scan shape
    "q_llm_kmeans",
    "q_llm_cluster_sample",
    # r14: SemDeDup as published — Lloyd loop + within-cell pair join
    # (equi-join on cluster_id; pair volume is sum-over-cells
    # C(|cell|,2), so the fixed-k fixture stresses the quadratic cell
    # term the paper bounds by growing k with the corpus)
    "q_llm_semdedup_kmeans",
]

#: r12 second decade: sf1.0 -> sf3.0 (3x) for the keys that probed
#: ~LINEAR over the first decade — one decade cannot distinguish
#: linear from n*log n from a memory-pressure inflection, and these
#: two are the operators a 100-TB dedup run leans on. Expected ratio
#: for 3x data on fixed cores: ~3-3.6 if linear holds.
SECOND_DECADE_KEYS = [
    "q_llm_dup_clusters",
    "q_llm_dedup_near",
    # r12: the LSH-edge cluster resolver built FROM the second-decade
    # finding — must show the banded cost curve, not the exact join's.
    "q_llm_dup_clusters_lsh",
    # r13 (r12 verdict item 5): the remaining dedup-spine keys never
    # probed past sf1.0 — the kept-set APPLY twin (its anti-join fans
    # the kept set against the full corpus) and exact-substring spans
    # (its flag-join fans dup windows back out per document; deserves
    # the df-inflation scrutiny that caught the exact-edge join).
    "q_llm_dedup_apply_lsh",
    "q_llm_substring_spans",
    # r13: the new clustering keys — fixed-cost dominated in the first
    # decade (1.3x / 1.39x for 10x); the second decade confirms the
    # per-iteration scan + groupBy(k) shape stays linear
    "q_llm_kmeans",
    # r13: the alternating-star resolver over the same LSH edges — on
    # the fixture's near-clique clusters it should TIE propagation
    # (both resolvers' rounds are few); the star win is round COUNT on
    # chain graphs (pinned functionally in tests), but the per-round
    # cost curve must still be measured linear.
    "q_llm_dup_clusters_star",
    # r14: SemDeDup cells — corpus-scaled k (80 -> 240 across this
    # tier) must keep the within-cell pair term linear; a fixed k
    # would read quadratic here
    "q_llm_semdedup_kmeans",
]

SF01 = "/root/testdata/sf0.1"
SF10 = str(Path(__file__).resolve().parent.parent / ".scale" / "sf1.0")
SF30 = str(Path(__file__).resolve().parent.parent / ".scale" / "sf3.0")
REPEATS = 2


def _clear_session_state(spark) -> None:
    """Drop every persisted/checkpointed block between keys. Several
    probe keys localCheckpoint intermediates (dup_clusters' label
    rounds, bpe's vocab, the text keys' term counts); in one shared
    session those blocks accumulate and pin executor memory, slowing
    LATER keys' measurements by 2-6x (r11: winnow measured 21 s inside
    the shared session vs 3.3 s fresh). Per-key isolation makes the
    numbers comparable without paying a JVM restart per key."""
    spark.catalog.clearCache()
    # py4j converts the java.util.Map to a dict-like view
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def main() -> None:
    import argparse

    from okera_trino_spark.registry import load_all_queries
    from okera_trino_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--second-only", action="store_true",
                    help="run only the sf1.0 -> sf3.0 second-decade keys")
    ap.add_argument("--keys", default=None,
                    help="comma-separated key subset (applies to both "
                         "lists) — re-probe only what changed")
    args = ap.parse_args()
    only = None
    if args.keys:
        only = {k.strip() for k in args.keys.split(",") if k.strip()}
        known = set(KEYS) | set(SECOND_DECADE_KEYS)
        unknown = sorted(only - known)
        if unknown:
            # a typo'd key silently probing NOTHING would let an empty
            # run masquerade as a completed probe (r13 review finding)
            raise SystemExit(f"--keys not in any probe list: {unknown}; "
                             f"known: {sorted(known)}")

    specs = load_all_queries()
    spark = get_spark("okera-trino-spark-scale-probe")

    results = {}
    for name in [] if args.second_only else KEYS:
        if only is not None and name not in only:
            continue
        times = _probe_key(spark, specs[name].fn,
                           (("sf0.1", SF01), ("sf1.0", SF10)))
        times["ratio"] = round(times["sf1.0"] / times["sf0.1"], 2)
        results[name] = times
        print(json.dumps({"key": name, **times}), flush=True)
    second = {}
    if Path(SF30).exists():
        for name in SECOND_DECADE_KEYS:
            if only is not None and name not in only:
                continue
            times = _probe_key(spark, specs[name].fn,
                               (("sf1.0", SF10), ("sf3.0", SF30)))
            times["ratio_3x"] = round(times["sf3.0"] / times["sf1.0"], 2)
            second[name] = times
            print(json.dumps({"key": name, **times}), flush=True)
    print(json.dumps({"scale_probe": results,
                      "second_decade": second}))
    if only is not None:
        # a requested key that landed in NO executed loop (e.g.
        # --second-only with a first-decade-only key, or a missing
        # .scale/sf3.0 silencing the second loop) must fail loudly —
        # an empty run must never masquerade as a completed probe
        missed = sorted(only - set(results) - set(second))
        if missed:
            raise SystemExit(
                f"--keys requested but not probed by any executed "
                f"loop: {missed} (check --second-only / fixture dirs)")


def _probe_key(spark, fn, tiers) -> dict:
    times = {}
    for label, sf_dir in tiers:
        fn(spark, sf_dir).count()  # warm-up: JIT + footer reads
        _clear_session_state(spark)
        samples = []
        for _ in range(REPEATS):
            samples.append(_timed(fn, spark, sf_dir))
            # clear BETWEEN repeats too: a prior run's checkpoint
            # blocks pinning memory during the next timed run is
            # the same contamination, one level down
            _clear_session_state(spark)
        times[label] = round(min(samples), 3)
    return times


def _timed(fn, spark, sf_dir) -> float:
    start = time.perf_counter()
    fn(spark, sf_dir).count()
    return time.perf_counter() - start


if __name__ == "__main__":
    main()
