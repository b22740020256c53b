"""As-of join and grouped-pandas custom operators.

Two operators the reference's host engine (Trino 400) lacks natively,
built the way the north star prescribes for "operator Spark lacks"
cases: (a) as a composition of existing DataFrame ops where semantics
allow (as-of join = union-tag + window carry-forward), (b) as an
Arrow-batched applyInPandas where per-group imperative logic is the
point (grouped normalization).

As-of join scale argument: the naive form is a range-predicate pair
join (quadratic blowup per key). The union-tag form used here is the
merge-join shape: one shuffle on the key, one in-partition sort by
time, then a linear carry-forward pass — the same cost profile as a
window function, valid at any scale, no row explosion ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from okera_trino_spark.operators._util import r4, t
from okera_trino_spark.registry import query


def asof_join_backward(left: DataFrame, right: DataFrame,
                       on: str, left_time: str, right_time: str,
                       carry: list[str],
                       tiebreak: str | None = None) -> DataFrame:
    """For each left row, attach ``carry`` columns of the latest right
    row with the same ``on`` key and right_time <= left_time.

    Implementation: tag and union both sides on a common (key, time)
    axis — right rows sort before left rows at equal times (backward
    as-of is inclusive) — then last_value(..., ignorenulls) over a
    running window carries each right row's payload forward to every
    later left row. One shuffle (by key), one sort (by time), linear
    scan; no range pair-join. The payload travels as ONE struct of the
    ``carry`` columns — non-null on every right row, null on left rows —
    so ``last`` picks a whole right row: a NULL payload column on the
    latest right row is carried as NULL, never torn from an older row.

    ``tiebreak`` (r16, guide §2.4): a right-side column whose MAXIMUM
    picks the representative when several right rows share the same
    (key, time). It becomes the window sort's third key — right rows at
    an equal time sort ascending on it, so the running last_value lands
    on the max-tiebreak row — which equals ``max_by(payload,
    tiebreak)`` WITHOUT the pre-aggregation exchange callers otherwise
    need to de-duplicate the right side (the deterministic-representative
    reduction rides the one shuffle the window already pays). Left rows
    carry NULL there and are ordered after right rows by ``_side``
    regardless, so left-side order stays don't-care, as before.
    """
    payload = T.StructType([right.schema[c] for c in carry])
    lt = left.select(
        F.col(on).alias("_k"), F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"), "*",
        F.lit(None).cast(payload).alias("_carry"),
    )
    tb = ([F.col(tiebreak).alias("_tb")] if tiebreak else [])
    tb_null = ([F.lit(None).cast(right.schema[tiebreak].dataType)
                .alias("_tb")] if tiebreak else [])
    lt = lt.select("*", *tb_null)
    rt = right.select(
        F.col(on).alias("_k"), F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in left.schema.fields],
        F.struct(*carry).alias("_carry"),
        *tb,
    )
    unioned = lt.unionByName(rt)
    # _side orders right(0) before left(1) at identical timestamps →
    # a right row exactly at the left time is visible (inclusive <=).
    order = ["_t", "_side"] + (["_tb"] if tiebreak else [])
    w = (
        Window.partitionBy("_k").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*", F.last("_carry", ignorenulls=True).over(w).alias("_asof"))
    drop_tb = (["_tb"] if tiebreak else [])
    return (
        carried.filter(F.col("_side") == 1)
        .select("*", *[F.col("_asof")[c].alias(f"asof_{c}") for c in carry])
        .drop("_k", "_t", "_side", *drop_tb, "_carry", "_asof")
    )


@query(
    "q_asof_join",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS user_id, o_orderdate,
               arg_max(o_orderkey, o_orderkey) AS o_orderkey,
               arg_max(o_totalprice, o_orderkey) AS o_totalprice
        FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_time,
           o.o_orderkey AS asof_orderkey,
           round(o.o_totalprice, 4) AS asof_totalprice
    FROM events e
    ASOF JOIN o ON o.user_id = e.user_id AND o.o_orderdate <= e.ts
    WHERE e.event_id < 3000
    """,
    tags=("join", "asof", "custom"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each event picks up the customer's most
    recent order at or before the event time (classic point-in-time
    enrichment — feature stores, slowly-changing attributes).

    Oracle is DuckDB's native ASOF JOIN (inner semantics: events whose
    user never ordered before drop out — the IS NOT NULL filter here).
    (o_custkey, o_orderdate) pairs repeat in the fixture, which would
    make the as-of match nondeterministic, so BOTH engines pre-reduce
    the order side to one deterministic representative per (key, time)
    — the max-orderkey row — before the as-of.
    """
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    # Align the join-key name across sides (orders.o_custkey ↔ user_id).
    # (o_custkey, o_orderdate) may repeat → the deterministic
    # representative per (key, time) is the max-o_orderkey row, picked
    # by the window's tiebreak sort key (r16) instead of the former
    # max_by pre-aggregation: the representative choice rides the one
    # shuffle the carry-forward window already pays, dropping the
    # orders-side aggregation exchange outright (guide §2.4).
    # Users outside the filtered event slice can never be carried into
    # a surviving row (the window partitions by user and only _side=1
    # rows survive), so the order side is pre-filtered with a semi-join
    # on the left side's users (guide §3.2): un-hinted — AQE broadcasts
    # the small distinct-user set at runtime — it cuts the window input
    # ~11x at sf0.1 and scales as the left-side selectivity.
    o = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"), "o_orderdate",
                "o_orderkey", "o_totalprice")
        .join(e.select("user_id").distinct(), "user_id", "leftsemi")
    )
    joined = asof_join_backward(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        carry=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return (
        joined.filter(F.col("asof_o_orderkey").isNotNull())
        .select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
            F.col("asof_o_orderkey").alias("asof_orderkey"),
            r4(F.col("asof_o_totalprice")).alias("asof_totalprice"),
        )
    )


@query(
    "q_pandas_group_norm",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           l_orderkey, l_linenumber,
           round((l_extendedprice - avg(l_extendedprice) OVER w)
                 / stddev_samp(l_extendedprice) OVER w, 4) AS price_z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag, l_linestatus,
                 date_trunc('month', l_shipdate))
    """,
    tags=("udf", "pandas", "custom"),
)
def q_pandas_group_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped z-score normalization via applyInPandas: each group
    arrives as one pandas DataFrame (Arrow-batched), is normalized
    imperatively, and returns 1:1 rows. The computation is deliberately
    SQL-expressible so the oracle verifies the applyInPandas machinery
    (grouping, batch integrity, schema) — the pattern then generalizes
    to logic SQL can't state (model scoring, per-group fitting).

    Scale: one shuffle on the group key; each group must fit one
    executor's memory. The compound key (returnflag, linestatus,
    ship month) keeps per-group size a bounded fraction of the table as
    data grows — the month dimension grows with the data's time range,
    so no group is ever more than ~1/(6·|months|) of the table. A single
    low-cardinality key would funnel everything into a handful of pandas
    groups. For truly unbounded groups, bucket further (e.g. add
    ``l_orderkey % 1024``) and merge moments.
    """
    import pandas as pd

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["l_extendedprice"].mean()
        sd = pdf["l_extendedprice"].std(ddof=1)
        # Nullable Float64: a single-row group has sd = NaN in pandas but
        # stddev_samp = NULL in SQL — Arrow maps pd.NA to a true SQL NULL,
        # where a raw float64 NaN would surface as NaN (oracle mismatch).
        z = ((pdf["l_extendedprice"] - mu) / sd).round(4).astype("Float64")
        return pd.DataFrame({
            "l_returnflag": pdf["l_returnflag"],
            "l_linestatus": pdf["l_linestatus"],
            "ship_month": pdf["ship_month"],
            "l_orderkey": pdf["l_orderkey"],
            "l_linenumber": pdf["l_linenumber"],
            "price_z": z,
        })

    li = t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus",
                  F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
                  "l_orderkey", "l_linenumber", "l_extendedprice")
        .groupBy("l_returnflag", "l_linestatus", "ship_month")
        .applyInPandas(
            norm,
            schema=("l_returnflag string, l_linestatus string, ship_month string, "
                    "l_orderkey long, l_linenumber int, price_z double"),
        )
    )
