#!/usr/bin/env python3
"""Benchmark for the okera_trino_spark engine: one closed-loop client.

    python3 perfbench/run.py --workload governed_sql --seed 1 --seconds 10 --trace 0

It may be launched from any directory. The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it holds run details (seed, digest of the
generated operations, sample counts, failed fraction).

Each run builds (or reuses) its tables under ``.perfbench/`` in the
repository root, sets up a Spark session, warms every operation shape
once, then runs passes of the seeded operation list for about
``--seconds``. Every result is checked after its pass, outside the timed
window. Workloads, metrics and the layer map are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
import governed  # noqa: E402
import tracing  # noqa: E402
from governed import Op  # noqa: E402

#: workload -> scale factor of its tables.
SCALE = {"governed_sql": 0.01, "analytic_batch": 0.1}

#: Registry keys of analytic_batch. Relational: TPC-H DataFrame keys and
#: Trino-text twins, scan/filter, joins, aggregates, windows, top-k, set
#: operations, as-of join, recursive CTE, MATCH_RECOGNIZE (an
#: applyInPandas Python-worker path) and a stream tumble window. One LLM
#: curation key, passage dedup, carries the eager sub-actions and the
#: localCheckpoint blocks that stay pinned.
BATCH_KEYS = [
    "q_pricing_summary", "q_trino_tpch_q1", "q_tpch_q3",
    "q_trino_tpch_q13", "q_trino_tpch_q18", "q_filter_range",
    "q_join_inner", "q_agg_group", "q_win_rank", "q_topk", "q_union_all",
    "q_asof_join", "q_recursive_cte", "q_trino_sql_mr_prev",
    "q_stream_tumble", "q_llm_para_dedup",
]
#: Nominal wall time of one pass on a 4-core host. A run makes
#: round(--seconds / this) passes, at least one, so every run of a
#: workload does the same work whatever the host speed.
PASS_SECONDS = {"governed_sql": 15.0, "analytic_batch": 10.0}


def _prepare_environment() -> None:
    """Everything the JVM and Python workers inherit: the package on the
    workers' path wherever the benchmark is launched from, scratch space
    inside the checkout, one executor thread per available core."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Heap committed up front (-Xms = -Xmx): resident memory then tracks
    # the pages the program touches, not the JVM's heap-resizing policy.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={CACHE / 'warehouse'} "
        "--driver-java-options "
        f"'-Xms2g -Djava.io.tmpdir={tmp}' pyspark-shell")


def workload_ops(workload: str, seed: int, sf: float) -> list[Op]:
    """The seeded operation list of one pass."""
    if workload == "governed_sql":
        return governed.generate(seed, max(1_500, int(1_500_000 * sf)),
                                 max(150, int(150_000 * sf)))
    keys = list(BATCH_KEYS)
    random.Random(seed).shuffle(keys)
    return [Op("key", "batch", k) for k in keys]


def ops_digest(ops: list[Op]) -> str:
    """Digest of the generated operation list: equal digests, same inputs."""
    blob = json.dumps([[o.kind, o.user, o.sql, o.dialect, o.session_start]
                       for o in ops])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class OpResult:
    kind: str
    latency_s: float = 0.0
    rows: list | None = None
    columns: list[str] | None = None
    error: str | None = None
    audit_ok: bool = True


@dataclass
class Pass:
    wall_s: float
    results: list[OpResult]
    traced_ops: set[int] = field(default_factory=set)
    failed: int = 0


class Client:
    """One client session: a GovernedCatalog (with the governed users'
    policies when ``policies``) plus the registry, sharing one Spark
    session. ``build`` runs an op up to the DataFrame whose full result
    the runner then collects on the driver (None for writes)."""

    def __init__(self, spark, sf_dir: str, specs, policies: bool) -> None:
        from okera_trino_spark.sources.auth import PasswordAuthenticator
        from okera_trino_spark.sources.catalog import GovernedCatalog

        self.spark = spark
        self.sf_dir = sf_dir
        self.specs = specs
        self.cat = GovernedCatalog(spark, sf_dir,
                                   authenticator=PasswordAuthenticator())
        for name in datagen.TABLES:
            self.cat.table_schema(name)  # loads every table
        if policies:
            for user in governed.POLICIES:
                self.set_policies(user)
            self.cat.execute(governed.PREPARED, dialect="trino").collect()

    def set_policies(self, user: str) -> None:
        from okera_trino_spark.sources.catalog import TablePolicy

        for table, pol in governed.POLICIES[user].items():
            self.cat.set_policy(user, table, TablePolicy(**pol))

    def build(self, op: Op):
        if op.session_start:
            self.cat.login(op.user, op.user)
        if op.kind == "key":
            return self.specs[op.sql].fn(self.spark, self.sf_dir)
        if op.kind == "w_set_policy":
            self.set_policies(op.sql)
            return None
        if op.kind == "w_create_view":
            self.cat.create_view("v_big_orders", op.sql, replace=True)
            return None
        if op.kind == "w_drop_view":
            self.cat.drop_view("v_big_orders")
            return None
        return self.cat.execute(op.sql, dialect=op.dialect)

    def audit_count(self) -> int:
        return len(self.cat.audit_log)

    def audited_once(self, op: Op, before: int) -> bool:
        """Every statement submitted through execute leaves exactly one
        successful audit record carrying its text."""
        if op.kind in ("key", "w_set_policy", "w_create_view",
                       "w_drop_view"):
            return True
        new = self.cat.audit_log[before:]
        return sum(1 for r in new if r.sql == op.sql and r.success) == 1


def _job_group_stats(sc, group: str) -> tuple[int, int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            stages += 1
            tasks += st.numTasks if st is not None else 0
    return len(jobs), stages, tasks


class Runner:
    """Runs passes of ops for one client; in traced passes it also
    records spans (through ``tracer``) and per-layer counts."""

    def __init__(self, spark, client: Client, tracer=None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.client = client
        self.tracer = tracer
        self.layer: dict[str, float] = {}

    def _add(self, name: str, v: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + v

    def _exec_records(self) -> int:
        from okera_trino_spark.sources.audit import execution_log

        return len(execution_log(self.spark))

    def run_op(self, i: int, op: Op, traced: bool) -> OpResult:
        tr = self.tracer if traced else None
        res = OpResult(op.kind)
        audit_before = self.client.audit_count()
        if tr is not None:
            group = f"perfbench-{i}"
            self.sc.setJobGroup(group, "op")
            exec_before = self._exec_records()
            tr.op = i
        df = None
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = self.client.build(op)
                if df is not None:
                    res.rows = df.collect()
            else:
                df = self._run_traced(op, group, res)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            res.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        res.latency_s = time.perf_counter() - t0
        if tr is not None:
            tr.op = None
        if df is not None and res.error is None:
            res.columns = df.columns
        res.audit_ok = self.client.audited_once(op, audit_before)
        if tr is not None:
            self._trace_after(group, res, exec_before)
        return res

    def _run_traced(self, op: Op, group: str, res: OpResult):
        tr = self.tracer
        registry = op.kind == "key"
        with tr.span("op"):
            with tr.span("registry.build" if registry else "client.build"):
                df = self.client.build(op)
            if registry:
                with tr.quiet():
                    self._add("registry.build_jobs", len(
                        self.sc.statusTracker().getJobIdsForGroup(group)))
            if df is not None:
                with tr.span("engine.plan"), tr.quiet():
                    df._jdf.queryExecution().executedPlan()
                with tr.span("engine.exec"):
                    res.rows = df.collect()
        return df

    def _trace_after(self, group: str, res: OpResult,
                     exec_before: int) -> None:
        jobs, stages, tasks = _job_group_stats(self.sc, group)
        self.sc.setJobGroup("perfbench-idle", "between ops")
        self._add("engine.jobs", jobs)
        self._add("engine.stages", stages)
        self._add("engine.tasks", tasks)
        self._add("engine.result_rows", len(res.rows or ()))
        if jobs:
            # Listener records arrive asynchronously on the listener bus.
            t0 = time.perf_counter()
            while (self._exec_records() <= exec_before
                   and time.perf_counter() - t0 < 2.0):
                time.sleep(0.0005)
            if self._exec_records() > exec_before:
                self._add("audit.lag_s", time.perf_counter() - t0)
                self._add("audit.lag_n", 1)
        self.layer["engine.persisted_rdds"] = len(
            self.sc._jsc.getPersistentRDDs())

    def gc_ms(self) -> float:
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return float(sum(b.getCollectionTime() for b in beans))

    def run_pass(self, ops: list[Op], traced: bool, first_id: int) -> Pass:
        audit0 = self.client.audit_count()
        exec0 = self._exec_records()
        auth0 = self.client.cat.authenticator.cache_size()
        gc0 = self.gc_ms()
        if traced:
            tracing.instrument(self.tracer)
        t0 = time.perf_counter()
        results = [self.run_op(first_id + j, op, traced)
                   for j, op in enumerate(ops)]
        p = Pass(time.perf_counter() - t0, results)
        if traced:
            self.tracer.restore()
            p.traced_ops = set(range(first_id, first_id + len(ops)))
            self._add("engine.gc_ms", self.gc_ms() - gc0)
            self._add("auth.misses",
                      self.client.cat.authenticator.cache_size() - auth0)
            time.sleep(0.2)  # let the listener bus deliver the last records
            self._add("audit.records",
                      (self.client.audit_count() - audit0)
                      + (self._exec_records() - exec0))
        return p


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] \
        if len(xs) > 1 else xs[0]


def _jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc status")


class Checker:
    """Expected results: DuckDB replay for governed statements, cached
    oracle digests for registry keys."""

    def __init__(self, sf_dir: str, ops: list[Op], specs,
                 governed_sql: bool) -> None:
        keys = sorted({o.sql for o in ops if o.kind == "key"})
        self.specs = specs
        self.oracles = check.OracleCache(CACHE / "oracle", sf_dir,
                                         datagen.TABLES)
        self.want = {k: self.oracles.expected(specs[k].oracle) for k in keys}
        self.replay = (governed.Replay(sf_dir, datagen.TABLES)
                       if governed_sql else None)

    def ok(self, op: Op, res: OpResult) -> bool:
        if op.kind == "key":
            if check.digest(res.columns, res.rows) == self.want[op.sql]:
                return True
            return check.same_rows(
                check.by_name(res.columns, res.rows),
                self.oracles.rows(self.specs[op.sql].oracle))
        rows = [tuple(r) for r in res.rows or ()]
        if op.kind == "describe":
            rows = [(r[0],) for r in rows]
        from okera_trino_spark.sources.catalog import SCHEMAS

        exp = governed.expected(op, self.replay, SCHEMAS)
        return exp is None or check.same_rows(rows, exp)

    def verify(self, p: Pass, ops: list[Op]) -> None:
        """A wrong result or a missing audit record counts as failed."""
        for op, res in zip(ops, p.results):
            if res.error is None and not res.audit_ok:
                res.error = "audit record missing"
            if res.error is None and not self.ok(op, res):
                res.error = "wrong result"
            if res.error is not None:
                p.failed += 1
                print(f"perfbench: {op.kind} as {op.user} {op.sql[:80]!r} "
                      f"failed: {res.error}", file=sys.stderr)
            res.rows = None

    def close(self) -> None:
        self.oracles.close()
        if self.replay is not None:
            self.replay.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 tables, for checking the benchmark itself")
    args = ap.parse_args()
    _prepare_environment()
    w = args.workload
    sf = 0.001 if args.smoke else SCALE[w]
    ops = workload_ops(w, args.seed, sf)
    # The benchmark's inputs, outside set-up time (cached per checkout).
    sf_dir = datagen.ensure_tables(CACHE / "data", sf)

    t_start = time.perf_counter()
    from okera_trino_spark.registry import load_all_queries
    from okera_trino_spark.session import get_spark
    from okera_trino_spark.sources.audit import install_audit_listener
    specs = load_all_queries()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    install_audit_listener(spark)
    t_boot = time.perf_counter() - t_start
    try:
        return _run(args, w, sf, ops, sf_dir, specs, spark, t_start, t_boot)
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit; it exits when its
    stdin closes, and takes the Python worker daemon with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, w, sf, ops, sf_dir, specs, spark, t_start, t_boot) -> int:
    t = time.perf_counter()
    client = Client(spark, sf_dir, specs, w == "governed_sql")
    t_client = time.perf_counter() - t
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
    runner = Runner(spark, client, tracer)
    t = time.perf_counter()
    warm = governed.warmup(ops) if w == "governed_sql" else ops
    runner.run_pass(warm, False, -len(warm) - 1)
    t_warm = time.perf_counter() - t
    # Set-up: program import, session, catalog with its table loads and
    # policies, warm-up pass; one cold client, as a user's first session.
    setup_s = time.perf_counter() - t_start

    checker = Checker(sf_dir, ops, specs, w == "governed_sql")
    try:
        passes = _timed_passes(args, w, ops, runner, checker)
    finally:
        checker.close()
    if tracer is not None:
        tracer.dump(CACHE / "traces" / f"{w}-{args.seed}.jsonl")

    attempted = sum(len(p.results) for p in passes)
    failed = sum(p.failed for p in passes)
    plain = [p for p in passes if not p.traced_ops]
    lat = [r.latency_s * 1000 for p in plain for r in p.results]
    writes = [r.latency_s * 1000 for p in plain for r in p.results
              if r.kind in governed.WRITES]
    detail = {
        "workload": w, "seed": args.seed, "sf": sf,
        "ops_digest": ops_digest(ops), "ops_per_pass": len(ops),
        "passes": len(plain),
        "pass_wall_s": [p.wall_s for p in passes],
        "latency_samples": len(lat), "failed_frac": failed / attempted,
        "setup_parts_s": {"boot": t_boot, "client": t_client,
                          "warmup": t_warm},
        "persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
    }
    if writes:
        detail["write_latency_p50_ms"] = statistics.median(writes)

    if tracer is None:
        wall = sum(p.wall_s for p in plain)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(p.wall_s for p in plain), "s"),
            "ops_per_s": (len(lat) / wall, "1/s"),
            "latency_p50_ms": (statistics.median(lat), "ms"),
            "latency_p90_ms": (_p90(lat), "ms"),
            "jvm_peak_rss_mb": (_jvm_peak_rss_mb(spark.sparkContext), "MB"),
        }
    else:
        metrics = _layer_metrics(runner, tracer, passes)
        detail["trace_overhead_s"] = metrics["trace.overhead_s"][0]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


def _timed_passes(args, w: str, ops: list[Op], runner: Runner,
                  checker: Checker) -> list[Pass]:
    """The timed passes, each checked after it ends. A traced run
    alternates untraced and traced passes, so tracing overhead is the
    gap between passes with and without the wrappers."""
    n_passes = max(1, round(args.seconds / PASS_SECONDS[w]))
    if runner.tracer is not None:
        n_passes = max(2, n_passes)
    passes: list[Pass] = []
    while len(passes) < n_passes:
        traced = runner.tracer is not None and len(passes) % 2 == 1
        p = runner.run_pass(ops, traced, len(passes) * len(ops))
        checker.verify(p, ops)
        passes.append(p)
    return passes


def _layer_metrics(runner: Runner, tr, passes: list[Pass]) -> dict:
    traced = [p for p in passes if p.traced_ops]
    plain = [p for p in passes if not p.traced_ops]
    ops: set[int] = set().union(*(p.traced_ops for p in traced))
    n = len(ops)
    layer = runner.layer
    auth_calls = tr.calls("auth", ops)

    def per_op(name: str) -> float:
        return layer.get(name, 0.0) / n

    def ms(span: str) -> float:
        return tr.total_s(span, ops) * 1000 / n

    return {
        "auth.calls": (auth_calls / n, "1/op"),
        "auth.ms": (ms("auth"), "ms/op"),
        "auth.cache_hit_ratio": (  # 1 when nothing authenticates
            1.0 - layer.get("auth.misses", 0.0) / max(auth_calls, 1), "ratio"),
        "catalog.execute_self_ms": (
            tr.self_s("catalog.execute", ops) * 1000 / n, "ms/op"),
        "catalog.reads_per_op": (tr.calls("catalog.read", ops) / n, "1/op"),
        "catalog.load_table_calls": (
            tr.calls("catalog.load_table", ops) / n, "1/op"),
        "catalog.load_table_ms": (ms("catalog.load_table"), "ms/op"),
        "trino_sql.rewrite_calls": (
            tr.calls("trino_sql.rewrite", ops) / n, "1/op"),
        "trino_sql.rewrite_ms": (ms("trino_sql.rewrite"), "ms/op"),
        "trino_sql.explain_probe_ms": (ms("trino_sql.explain_probe"),
                                       "ms/op"),
        "trino_sql.udf_register_ms": (ms("trino_sql.udf_register"), "ms/op"),
        "engine.analyze_ms": (ms("engine.analyze"), "ms/op"),
        "py4j.round_trips_per_op": (tr.py4j_calls / n, "1/op"),
        "py4j.ms": (tr.py4j_s * 1000 / n, "ms/op"),
        "audit.records_per_op": (per_op("audit.records"), "1/op"),
        "audit.lag_ms": (layer.get("audit.lag_s", 0.0) * 1000
                         / max(layer.get("audit.lag_n", 0.0), 1.0), "ms"),
        "engine.plan_ms": (ms("engine.plan"), "ms/op"),
        "engine.exec_ms": (ms("engine.exec"), "ms/op"),
        "engine.jobs_per_op": (per_op("engine.jobs"), "1/op"),
        "engine.stages_per_op": (per_op("engine.stages"), "1/op"),
        "engine.tasks_per_op": (per_op("engine.tasks"), "1/op"),
        "engine.result_rows": (per_op("engine.result_rows"), "rows/op"),
        "registry.build_ms": (ms("registry.build"), "ms/op"),
        "registry.build_jobs": (per_op("registry.build_jobs"), "1/op"),
        "engine.gc_ms": (per_op("engine.gc_ms"), "ms/op"),
        "engine.persisted_rdds": (layer.get("engine.persisted_rdds", 0.0),
                                  "count"),
        "trace.overhead_s": (
            statistics.median(p.wall_s for p in traced)
            - statistics.median(p.wall_s for p in plain), "s"),
    }


if __name__ == "__main__":
    sys.exit(main())
