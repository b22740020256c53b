"""Property-based check of the custom as-of join: the union-tag +
window carry-forward implementation must agree with the obvious
per-row definition (latest right row with the same key and
right_time <= left_time) on arbitrary small inputs — including the
edge cases fixtures never hit: equal timestamps across sides, keys
with no right rows, duplicate right timestamps.

Spark jobs are slow per example, so hypothesis drives few, dense
examples (many collisions in tiny key/time domains).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from okera_trino_spark.operators.asof import asof_join_backward

# Tiny domains force key/time collisions — the interesting cases.
_key = st.integers(min_value=0, max_value=2)
_time = st.integers(min_value=0, max_value=5)
_val = st.integers(min_value=-100, max_value=100)

_left_rows = st.lists(st.tuples(_key, _time), min_size=1, max_size=8)
_right_rows = st.lists(st.tuples(_key, _time, _val), min_size=0, max_size=8)


def _brute_force(left, right):
    """Per-left-row scan: latest right (ties: the max payload — mirrors a
    deterministic pre-reduce like q_asof_join's max_by) or None."""
    out = []
    for k, t in left:
        cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
        out.append((k, t, max(cands)[1] if cands else None))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(max_examples=12, deadline=None)
@given(left=_left_rows, right=_right_rows)
def test_asof_backward_matches_brute_force(spark, left, right):
    # Deterministic tie-handling: reduce right to one row per (key, time)
    # keeping the max value, exactly like q_asof_join's max_by pre-reduce.
    reduced = {}
    for k, t, v in right:
        reduced[(k, t)] = max(v, reduced.get((k, t), v))
    right_r = [(k, t, v) for (k, t), v in reduced.items()]

    ldf = spark.createDataFrame(left, "k long, t long")
    rdf = spark.createDataFrame(right_r or [(99, 99, 0)], "k long, t long, v long")
    if not right_r:
        rdf = rdf.filter("k < 0")  # empty right side, schema intact
    got = sorted(
        ((r.k, r.t, r.asof_v) for r in
         asof_join_backward(ldf, rdf, on="k", left_time="t",
                            right_time="t", carry=["v"]).collect()),
        key=lambda r: (r[0], r[1], r[2] is None, r[2]),
    )
    assert got == _brute_force(left, right_r)


@settings(max_examples=12, deadline=None)
@given(left=_left_rows, right=_right_rows)
def test_asof_tiebreak_matches_prereduced(spark, left, right):
    """The r16 ``tiebreak`` sort key must pick the same representative
    as the max_by pre-reduction it replaced: feeding the RAW
    (duplicated) right side with tiebreak='v' equals pre-reducing to
    the max-v row per (key, time) and joining without it."""
    reduced = {}
    for k, t, v in right:
        reduced[(k, t)] = max(v, reduced.get((k, t), v))
    right_r = [(k, t, v) for (k, t), v in reduced.items()]

    ldf = spark.createDataFrame(left, "k long, t long")
    raw = spark.createDataFrame(right or [(99, 99, 0)], "k long, t long, v long")
    if not right:
        raw = raw.filter("k < 0")
    got = sorted(
        ((r.k, r.t, r.asof_v) for r in
         asof_join_backward(ldf, raw, on="k", left_time="t",
                            right_time="t", carry=["v"],
                            tiebreak="v").collect()),
        key=lambda r: (r[0], r[1], r[2] is None, r[2]),
    )
    assert got == _brute_force(left, right_r)


def test_asof_null_payload_carried_whole(spark):
    """A NULL payload column on the chosen right row is carried as NULL
    (``max_by`` semantics), never filled from an older right row; with
    two carry columns the carried row stays whole."""
    ldf = spark.createDataFrame([(0, 2), (1, 5)], "k long, t long")
    rdf = spark.createDataFrame(
        [(0, 1, 1, 10, "a"), (0, 1, 2, None, "b"),   # tie at t=1: max tb=2
         (1, 1, 1, 20, "c"), (1, 3, 1, None, "d")],  # latest at t=3
        "k long, t long, tb long, v long, w string")
    got = sorted(
        (r.k, r.asof_v, r.asof_w) for r in
        asof_join_backward(ldf, rdf, on="k", left_time="t", right_time="t",
                           carry=["v", "w"], tiebreak="tb").collect())
    assert got == [(0, None, "b"), (1, None, "d")]
