"""The Trino-SQL STRING front end (functions/trino_sql.py): a migrating
reference user submits Trino dialect text; every statement here runs
through execute_trino and is compared against DuckDB running the
equivalent ANSI form on the same fixtures — the driver's comparison
(tests.parity.check_query: row count + schema + value hash).
"""

from __future__ import annotations

import pytest

from okera_trino_spark.functions.trino_sql import (
    TrinoSqlUnsupported,
    execute_trino,
    rewrite_trino_sql,
)
from functools import partial

from tests.parity import check_query as _check_query_strict

# These are LOCAL-ONLY dialect-semantics tests: many cases deliberately
# compare array/map cells and cross-engine numeric widths, which the
# r9 driver-strict canon rejects (the driver itself never sees them —
# registry keys are gated strictly in tests/test_oracle_parity.py).
check_query = partial(_check_query_strict, driver_strict=False)

# (name, trino_sql, duckdb_sql) — duckdb_sql None means "same text".
CASES = [
    ("strpos_rename",
     "SELECT o_orderkey, strpos(o_orderstatus, 'O') AS p FROM orders ORDER BY o_orderkey",
     None),
    ("date_add_argorder",
     "SELECT o_orderkey, date_add('day', 30, o_orderdate) AS due FROM orders ORDER BY o_orderkey",
     "SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY AS due FROM orders ORDER BY o_orderkey"),
    ("date_diff_argorder",
     "SELECT o_orderkey, date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS age "
     "FROM orders ORDER BY o_orderkey",
     "SELECT o_orderkey, date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS age "
     "FROM orders ORDER BY o_orderkey"),
    ("json_extract_scalar",
     "SELECT event_id, json_extract_scalar(props, '$.k') AS k FROM events ORDER BY event_id",
     "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events ORDER BY event_id"),
    ("try_cast_wrap",
     "SELECT event_id, TRY(CAST(json_extract_scalar(props, '$.k') AS INTEGER)) AS k "
     "FROM events ORDER BY event_id",
     "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
     "FROM events ORDER BY event_id"),
    ("approx_distinct_exactish",
     # HLL estimates differ across engines; pin determinism by checking
     # the estimate of a SMALL exact-regime column (both engines exact).
     "SELECT count(DISTINCT o_orderstatus) AS n FROM orders",
     None),
    ("day_of_week_iso",
     "SELECT event_id, day_of_week(ts) AS dow FROM events ORDER BY event_id",
     "SELECT event_id, isodow(ts) AS dow FROM events ORDER BY event_id"),
    ("varchar_cast",
     "SELECT o_orderkey, CAST(o_totalprice AS VARCHAR) AS s FROM orders ORDER BY o_orderkey",
     "SELECT o_orderkey, CAST(o_totalprice AS VARCHAR) AS s FROM orders ORDER BY o_orderkey"),
    ("quoted_ident_alias",
     'SELECT o_orderpriority AS "Order Priority", count(*) AS n FROM orders '
     'GROUP BY o_orderpriority',
     'SELECT o_orderpriority AS "Order Priority", count(*) AS n FROM orders '
     'GROUP BY o_orderpriority'),
    ("fetch_first",
     "SELECT o_orderkey FROM orders ORDER BY o_orderkey FETCH FIRST 7 ROWS ONLY",
     "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 7"),
    ("unnest_lateral",
     "SELECT doc_id, w FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS t(w) "
     "WHERE strpos(w, 'merge') > 0 ORDER BY doc_id",
     "SELECT doc_id, w FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents) "
     "WHERE strpos(w, 'merge') > 0 ORDER BY doc_id"),
    ("timestamp_literal_ntz",
     "SELECT count(*) AS n FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'",
     None),
    ("format_datetime",
     "SELECT event_id, format_datetime(ts, 'yyyy-MM-dd') AS d FROM events ORDER BY event_id",
     "SELECT event_id, strftime(ts, '%Y-%m-%d') AS d FROM events ORDER BY event_id"),
    ("arbitrary_single_group",
     # arbitrary() is any-value; make it deterministic with 1-row groups.
     "SELECT o_orderkey, arbitrary(o_orderstatus) AS st FROM orders "
     "GROUP BY o_orderkey ORDER BY o_orderkey",
     "SELECT o_orderkey, min(o_orderstatus) AS st FROM orders "
     "GROUP BY o_orderkey ORDER BY o_orderkey"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES])
def test_trino_statement_matches_oracle(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino:{name}")


def test_readme_catalog_navigation(spark, sf_dir):
    """The reference README's cli session shape (README.md:74-90):
    SHOW SCHEMAS / SHOW TABLES flow through the string path too."""
    execute_trino(spark, "SELECT 1 AS x", sf_dir)  # registers fixture views
    schemas = execute_trino(spark, "SHOW SCHEMAS").collect()
    assert len(schemas) >= 1
    tables = {r.tableName for r in execute_trino(spark, "SHOW TABLES").collect()}
    assert {"orders", "lineitem", "events", "documents"} <= tables


def test_rewrite_leaves_string_literals_alone():
    out = rewrite_trino_sql("SELECT 'strpos(x)' AS s, \"strpos\" FROM t")
    assert "'strpos(x)'" in out      # literal untouched
    assert "`strpos`" in out         # identifier quoted for Spark


def test_rewrite_generic_try_raises():
    # calls without a Spark try_ twin stay unsupported
    with pytest.raises(TrinoSqlUnsupported):
        rewrite_trino_sql("SELECT TRY(concat(a, b)) FROM t")
    # r8: multi-operator arithmetic now lowers recursively
    assert ("try_divide(try_divide(a, b), c)"
            in rewrite_trino_sql("SELECT TRY(a / b / c) FROM t"))


def test_rewrite_unnest_shape_mismatch_raises():
    # 2 arguments, 3 alias columns: no Spark translation exists.
    with pytest.raises(TrinoSqlUnsupported, match="alias"):
        rewrite_trino_sql(
            "SELECT * FROM t CROSS JOIN UNNEST(a, b) AS x(u, v, w)")
    # ordinality over a zip is out of scope (single-array form only).
    with pytest.raises(TrinoSqlUnsupported, match="ORDINALITY"):
        rewrite_trino_sql(
            "SELECT * FROM t CROSS JOIN UNNEST(a, b) WITH ORDINALITY AS x(u, v, i)")


def test_rewrite_comment_preserved():
    out = rewrite_trino_sql("SELECT 1 -- strpos(a, b)\nFROM t")
    assert "-- strpos(a, b)" in out


def test_governed_execute_trino_dialect(spark, sf_dir):
    """Trino-dialect text through the GOVERNED path: column policies
    apply to the rewritten query exactly as to native Spark SQL, and the
    audit log records the original Trino text."""
    from okera_trino_spark.sources.catalog import GovernedCatalog, TablePolicy

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("analyst", "orders", TablePolicy(
        allowed_columns=["o_orderkey", "o_orderdate"]))
    trino = ("SELECT o_orderkey, date_add('day', 30, o_orderdate) AS due "
             "FROM orders ORDER BY o_orderkey FETCH FIRST 5 ROWS ONLY")
    out = cat.execute(trino, user="analyst", dialect="trino")
    assert out.columns == ["o_orderkey", "due"]
    assert len(out.collect()) == 5
    assert cat.audit_log[-1].sql == trino          # original dialect audited
    # the policy hides o_totalprice from the same user on this path
    import pytest as _pytest
    with _pytest.raises(Exception, match="o_totalprice|UNRESOLVED"):
        cat.execute("SELECT o_totalprice FROM orders",
                    user="analyst", dialect="trino").collect()


# Second wave of dialect coverage: divergent-semantics functions.
CASES2 = [
    ("regexp_extract_whole_match",
     "SELECT doc_id, regexp_extract(text, 'b[a-z]+h') AS m FROM documents ORDER BY doc_id",
     "SELECT doc_id, regexp_extract(text, 'b[a-z]+h', 0) AS m FROM documents ORDER BY doc_id"),
    ("sha256_hex",
     "SELECT o_orderkey, to_hex(sha256(CAST(o_orderstatus AS VARBINARY))) AS h "
     "FROM orders ORDER BY o_orderkey LIMIT 50",
     "SELECT o_orderkey, upper(sha256(o_orderstatus)) AS h "
     "FROM orders ORDER BY o_orderkey LIMIT 50"),
    ("bitwise_fns",
     "SELECT o_orderkey, bitwise_and(o_orderkey, 255) AS a, bitwise_or(o_orderkey, 16) AS o, "
     "bitwise_xor(o_orderkey, 85) AS x FROM orders ORDER BY o_orderkey LIMIT 100",
     "SELECT o_orderkey, o_orderkey & 255 AS a, o_orderkey | 16 AS o, "
     "xor(o_orderkey, 85) AS x FROM orders ORDER BY o_orderkey LIMIT 100"),
    ("split_literal_dot",
     # Trino split('a.b.c', '.') = ['a','b','c']; a naive Spark regex
     # split on '.' would produce empty strings.
     "SELECT split('a.b.c', '.') AS parts",
     "SELECT str_split('a.b.c', '.') AS parts"),
    ("date_format_mysql_pattern",
     "SELECT event_id, date_format(ts, '%Y-%m-%d %H:%i') AS d FROM events ORDER BY event_id",
     "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M') AS d FROM events ORDER BY event_id"),
    ("date_parse_mysql_pattern",
     "SELECT date_parse('2024-03-05 07:30:00', '%Y-%m-%d %H:%i:%s') AS ts",
     "SELECT TIMESTAMP '2024-03-05 07:30:00' AS ts"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES2])
def test_trino_statement_matches_oracle_wave2(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino2:{name}")


def test_unknown_date_token_raises():
    with pytest.raises(TrinoSqlUnsupported, match="no exact Spark"):
        rewrite_trino_sql("SELECT date_format(ts, '%x') FROM events")


def test_split_computed_delimiter(spark, sf_dir, oracle):
    """split() with a COMPUTED delimiter (r9, formerly refused):
    runtime Pattern.quote via \\Q…\\E so regex metachars in the
    delimiter VALUE stay literal; embedded \\E sequences are broken
    out exactly like java.util.regex.Pattern.quote; the empty
    delimiter raises like Trino."""
    df = execute_trino(
        spark,
        "SELECT cardinality(split(s, d)) AS n, split(s, d)[2] AS p2, "
        "cardinality(split('x\\Eb.c', substring('a\\E', 2))) AS qe "
        "FROM (VALUES ('a.b.c', '.'), ('a||b', '||')) AS t(s, d) "
        "ORDER BY n", sf_dir)
    check_query(
        df, oracle,
        "SELECT * FROM (VALUES (2, 'b', 2), (3, 'b', 2)) "
        "AS t(n, p2, qe) ORDER BY n", name="split_computed")
    with pytest.raises(Exception, match="delimiter must not be empty"):
        execute_trino(
            spark, "SELECT split('abc', substring('x', 2)) AS x",
            sf_dir).collect()


def test_trino_q1_plan_pushdown(spark, sf_dir):
    """The Trino-dialect rewrite must cost NOTHING at plan level: the
    l_shipdate predicate (written via Trino date_add) still reaches the
    parquet scan, and the aggregate is partial+final (one shuffle)."""
    from okera_trino_spark.functions.trino_sql import q_trino_tpch_q1
    from okera_trino_spark.plans.explain import assert_pushed_filters, plan_string

    df = q_trino_tpch_q1(spark, sf_dir)
    assert_pushed_filters(df, "l_shipdate")
    assert "HashAggregate" in plan_string(df, "formatted")


def test_tablesample_bernoulli(spark, sf_dir):
    """Trino TABLESAMPLE BERNOULLI(p) → Spark (p PERCENT): row-level
    Bernoulli in both engines; assert binomial-plausible kept count."""
    df = execute_trino(
        spark, "SELECT o_orderkey FROM orders TABLESAMPLE BERNOULLI(10)",
        sf_dir)
    n = df.count()
    total = execute_trino(spark, "SELECT count(*) AS n FROM orders").collect()[0].n
    assert 0 < n < total
    assert abs(n / total - 0.10) < 0.05   # ±5pp of the 10% target


def test_rewrite_never_touches_literals_property():
    """Property: for ANY string literal content, the rewrite emits the
    literal so that SPARK'S PARSER recovers the exact Trino value —
    byte-for-byte except backslashes, which are doubled because Trino
    literals have no escape character while Spark's parser consumes one
    layer (wave 16). Renames apply only outside the literal."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # Printable text without the masking sentinels; quotes get doubled
    # per Trino escaping when embedded.
    lit = st.text(
        st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0, max_size=40)

    @settings(max_examples=200, deadline=None)
    @given(lit)
    def check(s):
        embedded = s.replace("'", "''")
        sql = f"SELECT strpos(col, '{embedded}') AS p FROM t"
        out = rewrite_trino_sql(sql)
        spark_form = embedded.replace("\\", "\\\\")
        assert f"'{spark_form}'" in out        # Spark-parses to the Trino value
        assert out.startswith("SELECT instr(col, ")  # rename applied

    check()


# Third wave: array/map literals and the 1-based subscript trap.
CASES3 = [
    ("array_literal",
     "SELECT ARRAY[3, 1, 2] AS a, cardinality(ARRAY[1, 2]) AS n",
     "SELECT [3, 1, 2] AS a, len([1, 2]) AS n"),
    ("subscript_one_based",
     # THE migration trap: Trino arr[1] is the FIRST element; Spark's
     # bracket subscript is 0-based. element_at restores Trino indexing.
     "SELECT ARRAY['first', 'second', 'third'][1] AS x",
     "SELECT (['first', 'second', 'third'])[1] AS x"),
    ("subscript_on_column_expr",
     "SELECT doc_id, split(text, ' ')[2] AS second_word "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, str_split(text, ' ')[2] AS second_word "
     "FROM documents ORDER BY doc_id"),
    ("subscript_chained",
     "SELECT ARRAY[ARRAY[10, 20], ARRAY[30]][1][2] AS x",
     "SELECT ([[10, 20], [30]])[1][2] AS x"),
    ("map_constructor_access",
     "SELECT MAP(ARRAY['a', 'b'], ARRAY[1, 2])['b'] AS v",
     # DuckDB map access yields a LIST of values; [1] unwraps it.
     "SELECT ((MAP(['a', 'b'], [1, 2]))['b'])[1] AS v"),
    ("nested_array_in_fn",
     "SELECT cardinality(ARRAY[ARRAY[1], ARRAY[2, 3]]) AS n",
     "SELECT len([[1], [2, 3]]) AS n"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES3])
def test_trino_statement_matches_oracle_wave3(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino3:{name}")


# Fourth wave: the lateral-UNNEST family + renamed scalar additions.
CASES4 = [
    ("unnest_with_ordinality",
     # Trino ordinality is 1-based; rewritten to inline(transform(...)).
     "SELECT doc_id, w, ord FROM documents "
     "CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS t(w, ord) "
     "WHERE strpos(w, 'merge') > 0 ORDER BY doc_id, ord",
     "SELECT doc_id, u.w, u.ord FROM documents, "
     "LATERAL (SELECT unnest(str_split(text, ' ')) AS w, "
     "unnest(generate_series(1, len(str_split(text, ' ')))) AS ord) u "
     "WHERE strpos(u.w, 'merge') > 0 ORDER BY doc_id, u.ord"),
    ("unnest_zip_two_arrays",
     # positional zip pads the shorter array with NULL in both engines.
     "SELECT x, y FROM (SELECT 1 AS one) "
     "CROSS JOIN UNNEST(ARRAY['a', 'b', 'c'], ARRAY[10, 20]) AS t(x, y) "
     "ORDER BY x",
     "SELECT z.s[1] AS x, z.s[2] AS y FROM (SELECT 1 AS one), "
     "LATERAL (SELECT unnest(list_zip(['a', 'b', 'c'], [10, 20])) AS s) z "
     "ORDER BY x"),
    ("unnest_map_form",
     "SELECT k, v FROM (SELECT 1 AS one) "
     "CROSS JOIN UNNEST(MAP(ARRAY['a', 'b'], ARRAY[1, 2])) AS t(k, v) "
     "ORDER BY k",
     "SELECT u.e.key AS k, u.e.value AS v FROM (SELECT 1 AS one), "
     "LATERAL (SELECT unnest(map_entries(MAP(['a', 'b'], [1, 2]))) AS e) u "
     "ORDER BY k"),
    ("levenshtein_startswith",
     "SELECT doc_id, CAST(levenshtein_distance(lang, 'en') AS INTEGER) AS lev, "
     "starts_with(lang, 'e') AS e FROM documents ORDER BY doc_id",
     "SELECT doc_id, CAST(levenshtein(lang, 'en') AS INTEGER) AS lev, "
     "starts_with(lang, 'e') AS e FROM documents ORDER BY doc_id"),
    ("map_agg_rewrite",
     "SELECT CAST(cardinality(map_agg(o_orderkey, o_totalprice)) AS BIGINT) AS n "
     "FROM orders WHERE o_orderkey <= 100",
     "SELECT count(*) AS n FROM orders WHERE o_orderkey <= 100"),
    ("listagg_within_group",
     # Trino listagg(x, d) WITHIN GROUP (ORDER BY ...) parses natively
     # in Spark 4 — passthrough, matched against DuckDB string_agg.
     "SELECT o_orderpriority, listagg(o_orderstatus, ',') "
     "WITHIN GROUP (ORDER BY o_orderkey) AS st "
     "FROM orders WHERE o_orderkey <= 40 "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority",
     "SELECT o_orderpriority, string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS st "
     "FROM orders WHERE o_orderkey <= 40 "
     "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    ("try_arithmetic",
     # Trino TRY(a / b) nulls division-by-zero; Spark try_divide matches.
     "SELECT o_orderkey, TRY(o_totalprice / (o_orderkey % 3)) AS r "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 THEN NULL "
     "ELSE o_totalprice / (o_orderkey % 3) END AS r "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("with_recursive_passthrough",
     "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5) "
     "SELECT CAST(sum(n) AS BIGINT) AS s FROM t",
     None),
    ("json_parse_identity",
     "SELECT json_extract_scalar(json_parse(props), '$.k') AS k "
     "FROM events ORDER BY event_id LIMIT 100",
     "SELECT json_extract_string(props, '$.k') AS k "
     "FROM events ORDER BY event_id LIMIT 100"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES4])
def test_trino_statement_matches_oracle_wave4(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino4:{name}")


def test_zip_rename_semantics(spark, sf_dir):
    """Trino zip → arrays_zip: positional pairing, NULL-padded to the
    longest input (struct field names differ across engines, so this is
    asserted value-wise rather than via the oracle hash)."""
    df = execute_trino(
        spark,
        "SELECT zip(ARRAY[1, 2, 3], ARRAY['a', 'b']) AS z", sf_dir)
    z = df.collect()[0].z
    assert [tuple(s) for s in z] == [(1, "a"), (2, "b"), (3, None)]


def test_from_unixtime_returns_timestamp(spark, sf_dir):
    """Trino from_unixtime returns a TIMESTAMP (Spark's own returns a
    string) — the rewrite maps the 1-arg form to timestamp_seconds."""
    df = execute_trino(spark, "SELECT from_unixtime(3600) AS t", sf_dir)
    row = df.collect()[0]
    assert row.t.hour == 1 and row.t.year == 1970


def test_row_constructor_rewrite(spark, sf_dir):
    """Trino ROW(a, b) → struct(a, b); field access via the rewritten
    subscriptless dot path is out of dialect scope, so assert the
    constructed values positionally."""
    df = execute_trino(spark, "SELECT ROW(1, 'x') AS r", sf_dir)
    r = df.collect()[0].r
    assert tuple(r) == (1, "x")


def test_at_time_zone_rewrites_literal_zone():
    out = rewrite_trino_sql(
        "SELECT ts AT TIME ZONE 'America/New_York' FROM events")
    assert ("convert_timezone(current_timezone(), 'America/New_York', ts)"
            in out)
    # non-literal zone keeps the named-error surface
    with pytest.raises(TrinoSqlUnsupported, match="non-literal zone"):
        rewrite_trino_sql("SELECT ts AT TIME ZONE tz_col FROM events")


def test_trino_dialect_view_with_policies(spark, sf_dir):
    """A view DEFINED in Trino dialect (the reference's view storage
    format) expands through the rewriter under the expanding user's
    policies: row filter and column mask both apply to the dialect
    view's output."""
    from okera_trino_spark.sources.catalog import GovernedCatalog, TablePolicy

    cat = GovernedCatalog(spark, sf_dir)
    cat.create_view("late_orders", """
        SELECT o_orderkey, o_custkey,
               date_add('day', 90, o_orderdate) AS due
        FROM orders
        WHERE strpos(o_orderstatus, 'F') > 0
        FETCH FIRST 100 ROWS ONLY
    """, dialect="trino")
    cat.set_policy("masked", "orders", TablePolicy(
        row_filter="o_orderkey % 2 = 0",
        column_masks={"o_custkey": "null"}))
    out = cat.read("late_orders", user="masked").collect()
    assert len(out) > 0
    assert all(r.o_orderkey % 2 == 0 for r in out)       # row filter applied
    assert all(r.o_custkey is None for r in out)         # mask applied
    assert all(r.due is not None for r in out)           # dialect expr ran


def test_trino_ctas_with_properties(spark, sf_dir, tmp_path):
    """Trino CTAS with layout properties → Spark CTAS clauses: the
    WITH(format, partitioned_by) block becomes USING/PARTITIONED BY and
    the written table round-trips through the string path."""
    spark.sql("DROP TABLE IF EXISTS t_ctas_test")
    execute_trino(spark, """
        CREATE TABLE t_ctas_test
        WITH (format = 'PARQUET', partitioned_by = ARRAY['o_orderpriority'])
        AS SELECT o_orderkey, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey <= 1000
    """, sf_dir)
    try:
        want = execute_trino(
            spark, "SELECT count(*) AS n FROM orders WHERE o_orderkey <= 1000",
            sf_dir).collect()[0].n
        got = execute_trino(
            spark, "SELECT count(*) AS n FROM t_ctas_test").collect()[0].n
        assert got == want and got > 0
        detail = "\n".join(
            f"{r.col_name}: {r.data_type}"
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_ctas_test").collect())
        assert "o_orderpriority" in detail.split("# Partition Information")[1]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ctas_test")


def test_trino_create_view_statement(spark, sf_dir):
    """CREATE [OR REPLACE] VIEW in Trino dialect lands as a session
    temp view whose body went through the full rewriter."""
    execute_trino(spark, """
        CREATE OR REPLACE VIEW v_trino_ddl AS
        SELECT o_orderkey, date_add('day', 30, o_orderdate) AS due
        FROM orders WHERE strpos(o_orderstatus, 'F') > 0
    """, sf_dir)
    try:
        out = execute_trino(
            spark, "SELECT count(*) AS n FROM v_trino_ddl").collect()[0].n
        assert out > 0
    finally:
        spark.catalog.dropTempView("v_trino_ddl")


def test_trino_ctas_bucketed(spark, sf_dir):
    """bucketed_by/bucket_count map to CLUSTERED BY … INTO n BUCKETS —
    the layout step that deletes the fact-join shuffle at scale."""
    spark.sql("DROP TABLE IF EXISTS t_ctas_bucketed")
    execute_trino(spark, """
        CREATE TABLE t_ctas_bucketed
        WITH (bucketed_by = ARRAY['o_custkey'], bucket_count = 4)
        AS SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey <= 500
    """, sf_dir)
    try:
        detail = "\n".join(
            f"{r.col_name}: {r.data_type}"
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_ctas_bucketed").collect())
        assert "Num Buckets: 4" in detail
        assert "o_custkey" in detail.split("Bucket Columns")[1].splitlines()[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ctas_bucketed")


def test_trino_insert_into_and_describe(spark, sf_dir):
    """INSERT INTO (identical syntax both dialects) lands through the
    string path onto a CTAS-created table; DESCRIBE passes through."""
    spark.sql("DROP TABLE IF EXISTS t_ins_test")
    execute_trino(spark, """
        CREATE TABLE t_ins_test AS
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 100
    """, sf_dir)
    try:
        base = execute_trino(
            spark, "SELECT count(*) AS n FROM t_ins_test").collect()[0].n
        execute_trino(spark, """
            INSERT INTO t_ins_test
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey > 100 AND o_orderkey <= 200
        """)
        execute_trino(spark, "INSERT INTO t_ins_test VALUES (999999, 1.5)")
        after = execute_trino(
            spark, "SELECT count(*) AS n FROM t_ins_test").collect()[0].n
        plus = execute_trino(
            spark, "SELECT count(*) AS n FROM orders "
                   "WHERE o_orderkey > 100 AND o_orderkey <= 200").collect()[0].n
        assert after == base + plus + 1
        cols = {r.col_name for r in
                execute_trino(spark, "DESCRIBE t_ins_test").collect()}
        assert {"o_orderkey", "o_totalprice"} <= cols
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ins_test")


def test_trino_mutations_raise_named_error():
    for stmt in ("DELETE FROM orders WHERE o_orderkey = 1",
                 "UPDATE orders SET o_totalprice = 0",
                 "MERGE INTO orders USING x ON a = b"):
        with pytest.raises(TrinoSqlUnsupported, match="immutable"):
            rewrite_trino_sql(stmt)


def test_subscript_rewrite_property(spark, sf_dir):
    """Property: random nested ARRAY-literal subscript chains evaluate
    to the same element Python indexing picks (Trino subscripts are
    1-based; a 0-based translation would read the neighbor). All cases
    run in ONE Spark query."""
    import random

    rng = random.Random(7)

    def gen(depth):
        if depth == 0:
            return rng.randint(0, 99)
        return [gen(depth - 1) for _ in range(rng.randint(1, 4))]

    def trino_lit(v):
        if isinstance(v, list):
            return "ARRAY[" + ", ".join(trino_lit(x) for x in v) + "]"
        return str(v)

    cases = []
    for i in range(40):
        depth = rng.randint(1, 3)
        v = gen(depth)
        expr, expect = trino_lit(v), v
        while isinstance(expect, list):
            idx = rng.randint(1, len(expect))
            expr += f"[{idx}]"
            expect = expect[idx - 1]
        cases.append((f"c{i}", expr, expect))

    sql = "SELECT " + ", ".join(f"{e} AS {n}" for n, e, _ in cases)
    row = execute_trino(spark, sql, sf_dir).collect()[0]
    for n, _, expect in cases:
        assert getattr(row, n) == expect, (n, getattr(row, n), expect)


def test_trino_explain_passthrough(spark, sf_dir):
    """EXPLAIN wraps a rewritten body and returns the Spark plan — the
    migration-debugging loop (what plan did my Trino text become?)."""
    rows = execute_trino(
        spark,
        "EXPLAIN SELECT strpos(o_orderstatus, 'F') FROM orders",
        sf_dir).collect()
    plan = rows[0][0]
    assert "Physical Plan" in plan
    assert "instr" in plan or "StringInstr" in plan  # shim reached the plan


def test_trino_pattern_features_raise_named_errors():
    with pytest.raises(TrinoSqlUnsupported, match="MATCH_RECOGNIZE"):
        rewrite_trino_sql("SELECT * FROM t MATCH_RECOGNIZE (PATTERN (A B))")
    # GROUPS frames lower from text (r7), but EXCLUDE clauses and
    # SELECT * (which would leak the helper group-index column) refuse.
    with pytest.raises(TrinoSqlUnsupported, match="GROUPS"):
        rewrite_trino_sql(
            "SELECT sum(x) OVER (ORDER BY y GROUPS BETWEEN 1 PRECEDING "
            "AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="SELECT [*]"):
        rewrite_trino_sql(
            "SELECT *, sum(x) OVER (ORDER BY y GROUPS BETWEEN 1 PRECEDING "
            "AND CURRENT ROW) FROM t")


def test_trino_positional_params(spark, sf_dir):
    """Trino/JDBC positional ? markers (PREPARE ... EXECUTE ... USING)
    bind through Spark's parameterized sql — values never enter the SQL
    text, and the dialect rewrite still applies around them."""
    parm = execute_trino(
        spark,
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderkey <= ? AND strpos(o_orderstatus, ?) > 0",
        sf_dir, params=[100, "F"]).collect()[0].n
    lit = execute_trino(
        spark,
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderkey <= 100 AND strpos(o_orderstatus, 'F') > 0",
        sf_dir).collect()[0].n
    assert parm == lit and parm > 0
    # injection-shaped value stays a value, not SQL
    inj = execute_trino(
        spark,
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus = ?",
        sf_dir, params=["' OR '1'='1"]).collect()[0].n
    assert inj == 0


def test_governed_execute_with_params(spark, sf_dir):
    """? binding composes with governance: the policy-scoped view is
    what the parameterized query sees, and the audit records the
    original marker text (never the bound values)."""
    from okera_trino_spark.sources.catalog import GovernedCatalog, TablePolicy

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("analyst", "orders", TablePolicy(
        allowed_columns=["o_orderkey", "o_orderstatus"]))
    sql = "SELECT count(*) AS n FROM orders WHERE o_orderkey <= ?"
    n = cat.execute(sql, user="analyst", dialect="trino",
                    params=[50]).collect()[0].n
    assert n > 0
    assert cat.audit_log[-1].sql == sql  # markers audited, not values


def test_set_session_properties_on_governed_path(spark, sf_dir):
    """Trino SET SESSION / RESET SESSION mutate the catalog's C21
    session properties (the reference's limit / sampling_value /
    stats_mode), are audited, and take effect on subsequent reads."""
    from okera_trino_spark.sources.catalog import GovernedCatalog

    cat = GovernedCatalog(spark, sf_dir)
    out = cat.execute("SET SESSION limit = 7", dialect="trino").collect()
    assert out[0].property == "limit" and out[0].value == "7"
    assert cat.props.limit == 7
    assert len(cat.read("orders").collect()) == 7     # limit applies
    assert cat.audit_log[-1].sql == "SET SESSION limit = 7"
    cat.execute("RESET SESSION limit")
    assert cat.props.limit is None
    cat.execute("SET SESSION stats_mode = 'spark'")
    assert cat.props.stats_mode == "spark"
    shown = {r.property: r.value
             for r in cat.execute("SHOW SESSION").collect()}
    assert shown["stats_mode"] == "spark" and shown["limit"] == "None"
    with pytest.raises(ValueError, match="unknown session property"):
        cat.execute("SET SESSION nonsense = 1")
    assert cat.audit_log[-1].success is False         # denial audited


def test_set_session_reaches_sql_path(spark, sf_dir):
    """SET/RESET SESSION limit changes what governed SQL sees, not only
    read(): views registered before the change must not be served."""
    from okera_trino_spark.sources.catalog import GovernedCatalog

    cat = GovernedCatalog(spark, sf_dir)
    sql = "SELECT count(*) AS n FROM (SELECT * FROM nation) t"
    assert cat.execute(sql).collect()[0].n == 25
    cat.execute("SET SESSION limit = 7", dialect="trino")
    assert cat.read("nation").count() == 7
    assert cat.execute(sql).collect()[0].n == 7
    cat.execute("RESET SESSION limit", dialect="trino")
    assert cat.execute(sql).collect()[0].n == 25


# Fifth wave: set operations + grouping sets pass through natively.
CASES5 = [
    ("intersect_except",
     "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' "
     "INTERSECT "
     "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' "
     "EXCEPT "
     "SELECT o_custkey FROM orders WHERE o_totalprice > 400000",
     None),
    ("grouping_sets_passthrough",
     "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
     "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) ",
     None),
    ("try_mod",
     "SELECT o_orderkey, TRY(o_orderkey % (o_orderkey - o_orderkey)) AS m "
     "FROM orders ORDER BY o_orderkey LIMIT 50",
     "SELECT o_orderkey, NULL::BIGINT AS m "
     "FROM orders ORDER BY o_orderkey LIMIT 50"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES5])
def test_trino_statement_matches_oracle_wave5(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino5:{name}")


# --------------------------------------------- round-6 divergence fixes
CASES6 = [
    ("varchar_n_cast_truncates",
     # Trino CAST to VARCHAR(n) TRUNCATES to n chars; Spark STRING is
     # unbounded, so the rewrite wraps a substring.
     "SELECT o_orderkey, CAST(o_orderpriority AS VARCHAR(3)) AS p3 "
     "FROM orders ORDER BY o_orderkey LIMIT 100",
     "SELECT o_orderkey, substring(CAST(o_orderpriority AS VARCHAR), 1, 3) AS p3 "
     "FROM orders ORDER BY o_orderkey LIMIT 100"),
    ("try_cast_varchar_n",
     "SELECT TRY(CAST('abcdef' AS VARCHAR(2))) AS t",
     "SELECT 'ab' AS t"),
    ("to_unixtime_fractional",
     # Trino to_unixtime returns DOUBLE epoch seconds with the fraction.
     "SELECT event_id, to_unixtime(ts) AS es FROM events ORDER BY event_id LIMIT 200",
     "SELECT event_id, epoch(ts) AS es FROM events ORDER BY event_id LIMIT 200"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES6])
def test_trino_statement_matches_oracle_wave6(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino6:{name}")


def test_random_rewrite_semantics(spark):
    """Trino random() → rand(); random(n) must NOT map to rand(n) (seed!)
    but to a uniform integer in [0, n); random(m, n) shifts the range."""
    assert "rand()" in rewrite_trino_sql("SELECT random() AS r")
    row = spark.sql(rewrite_trino_sql("SELECT random(10) AS r")).collect()[0]
    assert 0 <= row.r < 10 and isinstance(row.r, int)
    rows = spark.sql(rewrite_trino_sql(
        "SELECT random(5, 10) AS r FROM range(200)")).collect()
    assert all(5 <= r.r < 10 for r in rows)
    assert {r.r for r in rows} == {5, 6, 7, 8, 9}  # hits every bucket


def test_ctas_format_nonliteral_raises_named_error():
    with pytest.raises(TrinoSqlUnsupported, match="format expects"):
        rewrite_trino_sql(
            "CREATE TABLE t WITH (format=parquet) AS SELECT 1 AS x")


CASES6B = [
    ("try_subscript",
     # Trino TRY over an out-of-range 1-based subscript → NULL.
     "SELECT doc_id, TRY(split(text, ' ')[2]) AS second_word, "
     "TRY(split(text, ' ')[100000]) AS beyond "
     "FROM documents ORDER BY doc_id LIMIT 50",
     "SELECT doc_id, str_split(text, ' ')[2] AS second_word, "
     "str_split(text, ' ')[100000] AS beyond "
     "FROM documents ORDER BY doc_id LIMIT 50"),
    ("try_date_parse",
     "SELECT TRY(date_parse('2024-13-45', '%Y-%m-%d')) AS bad, "
     "TRY(date_parse('2024-03-05', '%Y-%m-%d')) AS good",
     "SELECT TRY_CAST('2024-13-45' AS TIMESTAMP) AS bad, "
     "TIMESTAMP '2024-03-05 00:00:00' AS good"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES6B])
def test_trino_statement_matches_oracle_wave6b(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino6b:{name}")


def test_try_unsupported_still_raises():
    with pytest.raises(TrinoSqlUnsupported, match="TRY"):
        rewrite_trino_sql("SELECT TRY(upper(x)) FROM t")


# ------------------------------------------------- wave 7: fn breadth
CASES7 = [
    ("lambda_matches",
     "SELECT doc_id, any_match(split(text, ' '), x -> length(x) > 8) AS has_long, "
     "all_match(split(text, ' '), x -> length(x) > 0) AS all_nonempty, "
     "none_match(split(text, ' '), x -> length(x) > 50) AS none_huge, "
     "cardinality(split(text, ' ')) AS n_words "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, "
     "len(list_filter(str_split(text, ' '), x -> length(x) > 8)) > 0 AS has_long, "
     "len(list_filter(str_split(text, ' '), x -> length(x) = 0)) = 0 AS all_nonempty, "
     "len(list_filter(str_split(text, ' '), x -> length(x) > 50)) = 0 AS none_huge, "
     "len(str_split(text, ' ')) AS n_words "
     "FROM documents ORDER BY doc_id"),
    ("array_contains_rename",
     "SELECT doc_id, contains(split(text, ' '), 'the') AS has_the "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, list_contains(str_split(text, ' '), 'the') AS has_the "
     "FROM documents ORDER BY doc_id"),
    ("reduce_passthrough",
     # Spark's reduce(arr, init, merge[, finish]) matches Trino's
     # 4-arg form natively — verify the text passes through unharmed.
     "SELECT doc_id, reduce(split(text, ' '), 0, (s, x) -> s + length(x), s -> s) AS chars "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, list_reduce(list_prepend(0, "
     "list_transform(str_split(text, ' '), x -> length(x))), (s, x) -> s + x) AS chars "
     "FROM documents ORDER BY doc_id"),
    ("geometric_mean_rewrite",
     "SELECT l_linestatus, round(geometric_mean(l_quantity), 6) AS gm "
     "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus",
     "SELECT l_linestatus, round(exp(avg(ln(l_quantity))), 6) AS gm "
     "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    ("format_printf",
     "SELECT format('%s/%d', o_orderstatus, o_orderkey) AS tag "
     "FROM orders ORDER BY o_orderkey LIMIT 100",
     "SELECT printf('%s/%d', o_orderstatus, o_orderkey) AS tag "
     "FROM orders ORDER BY o_orderkey LIMIT 100"),
    ("regexp_two_arg_forms",
     "SELECT doc_id, regexp_replace(text, '[aeiou]') AS novowel, "
     "cardinality(regexp_split(text, '[0-9]+')) AS n_chunks "
     "FROM documents ORDER BY doc_id LIMIT 50",
     "SELECT doc_id, regexp_replace(text, '[aeiou]', '', 'g') AS novowel, "
     "len(str_split_regex(text, '[0-9]+')) AS n_chunks "
     "FROM documents ORDER BY doc_id LIMIT 50"),
    ("truncate_toward_zero",
     # +0.0 normalizes IEEE negative zero on both sides (Trino's own
     # truncate emits -0.0 for (-1, 0) inputs; DuckDB's trunc too, but
     # Spark's ceil goes through BIGINT and loses the sign bit).
     "SELECT o_orderkey, truncate(o_totalprice / 1000 - 100) + 0.0 AS t "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, CAST(trunc(o_totalprice / 1000 - 100) AS DOUBLE) + 0.0 AS t "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("url_family",
     "SELECT o_orderkey, "
     "url_extract_host('http://shop.example.com:8080/orders?id=' || CAST(o_orderkey AS VARCHAR)) AS host, "
     "url_extract_port('http://shop.example.com:8080/x') AS port, "
     "url_extract_path('http://shop.example.com:8080/orders/a') AS path, "
     "url_extract_parameter('http://e.com/x?id=' || CAST(o_orderkey AS VARCHAR) || '&v=2', 'id') AS id "
     "FROM orders ORDER BY o_orderkey LIMIT 50",
     "SELECT o_orderkey, 'shop.example.com' AS host, CAST(8080 AS BIGINT) AS port, "
     "'/orders/a' AS path, CAST(o_orderkey AS VARCHAR) AS id "
     "FROM orders ORDER BY o_orderkey LIMIT 50"),
    ("utf8_roundtrip",
     "SELECT doc_id, from_utf8(to_utf8(text)) = text AS rt "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, TRUE AS rt FROM documents ORDER BY doc_id"),
    ("infinity_nan",
     "SELECT is_nan(nan()) AS isn, infinity() > 1e308 AS inf",
     "SELECT TRUE AS isn, TRUE AS inf"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES7])
def test_trino_statement_matches_oracle_wave7(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino7:{name}")


def test_truncate_scale_form_values(spark):
    """truncate(x, n) truncates toward zero at scale n (Trino
    MathFunctions semantics) — exact values pinned both signs."""
    row = spark.sql(rewrite_trino_sql(
        "SELECT truncate(3.14159, 2) AS a, truncate(-3.14159, 2) AS b, "
        "truncate(1234.5, -2) AS c")).collect()[0]
    assert (row.a, row.b, row.c) == (3.14, -3.14, 1200.0)


# ---------------------------------------------- wave 8: literals + JSON
CASES8 = [
    ("decimal_typed_literal",
     "SELECT o_orderkey, DECIMAL '0.0750' * o_totalprice AS fee "
     "FROM orders ORDER BY o_orderkey LIMIT 100",
     "SELECT o_orderkey, CAST('0.0750' AS DECIMAL(5, 4)) * o_totalprice AS fee "
     "FROM orders ORDER BY o_orderkey LIMIT 100"),
    ("json_value_lax",
     "SELECT event_id, json_value(props, 'lax $.k') AS k "
     "FROM events ORDER BY event_id",
     "SELECT event_id, json_extract_string(props, '$.k') AS k "
     "FROM events ORDER BY event_id"),
    ("at_timezone_fn",
     "SELECT event_id, CAST(date_trunc('second', "
     "at_timezone(ts, 'America/New_York')) AS VARCHAR) AS ny "
     "FROM events ORDER BY event_id LIMIT 200",
     "SELECT event_id, strftime(timezone('America/New_York', "
     "timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S') AS ny "
     "FROM events ORDER BY event_id LIMIT 200"),
    ("filter_clause_passthrough",
     "SELECT o_orderstatus, count(*) FILTER (WHERE o_totalprice > 100000) AS big "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
     None),
    ("listagg_passthrough",
     "SELECT n_regionkey, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
     "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
    ("lateral_passthrough",
     "SELECT o_orderkey, t.doubled FROM orders, "
     "LATERAL (SELECT o_totalprice * 2 AS doubled) t "
     "ORDER BY o_orderkey LIMIT 100",
     "SELECT o_orderkey, o_totalprice * 2 AS doubled FROM orders "
     "ORDER BY o_orderkey LIMIT 100"),
    ("localtimestamp_keyword",
     "SELECT (localtimestamp >= TIMESTAMP '2020-01-01 00:00:00') AS after_2020",
     "SELECT TRUE AS after_2020"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES8])
def test_trino_statement_matches_oracle_wave8(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino8:{name}")


def test_strict_json_path_and_cast_json_support_boundary():
    # r7: plain member-chain strict paths and CAST(x AS JSON) lower;
    # r11 moved the boundary again: strict wildcard/[last]/filter
    # paths now lower through the strict-aware VARIANT helper, and
    # what stays refused is the shared jsonpath tail ([n to m]
    # ranges, subscript lists) — mode-independent.
    assert "get_json_object" in rewrite_trino_sql(
        "SELECT json_value(p, 'strict $.k') FROM events")
    assert "to_json" in rewrite_trino_sql("SELECT CAST(m AS JSON) FROM t")
    assert "variant" in rewrite_trino_sql(
        "SELECT json_value(p, 'strict $.k[*]') FROM events")
    with pytest.raises(TrinoSqlUnsupported):
        rewrite_trino_sql(
            "SELECT json_value(p, 'strict $.k.keyvalue()') FROM events")


CASES9 = [
    ("array_agg_keeps_nulls",
     # Trino array_agg keeps NULL elements (collect_list would drop).
     "SELECT cardinality(array_agg(json_value(props, 'lax $.k'))) AS n_all, "
     "cardinality(filter(array_agg(json_value(props, 'lax $.k')), x -> x IS NULL)) AS n_null "
     "FROM events",
     "SELECT len(array_agg(json_extract_string(props, '$.k'))) AS n_all, "
     "len(list_filter(array_agg(json_extract_string(props, '$.k')), x -> x IS NULL)) AS n_null "
     "FROM events"),
    ("array_agg_order_by",
     "SELECT n_regionkey, array_agg(n_name ORDER BY n_name) AS names, "
     "array_agg(n_name ORDER BY n_name DESC) AS rnames "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
     "SELECT n_regionkey, array_agg(n_name ORDER BY n_name) AS names, "
     "array_agg(n_name ORDER BY n_name DESC) AS rnames "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES9])
def test_trino_statement_matches_oracle_wave9(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino9:{name}")


CASES10 = [
    ("truncate_scale",
     # 2-arg truncate: toward-zero at a decimal scale, negative scale
     # truncates to tens. Oracle replays the identical multiply/trunc/
     # divide IEEE sequence, so values are bit-comparable.
     "SELECT doc_id, truncate(doc_id / 7.0, 2) AS t2, "
     "truncate(-(doc_id) / 7.0, 2) AS tneg, "
     "truncate(doc_id * 1.5, -1) AS tens "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, "
     "CASE WHEN doc_id / 7.0 < 0 THEN ceil(doc_id / 7.0 * 100) "
     "  ELSE floor(doc_id / 7.0 * 100) END / 100 AS t2, "
     "CASE WHEN -(doc_id) / 7.0 < 0 THEN ceil(-(doc_id) / 7.0 * 100) "
     "  ELSE floor(-(doc_id) / 7.0 * 100) END / 100 AS tneg, "
     "CASE WHEN doc_id * 1.5 < 0 THEN ceil(doc_id * 1.5 * power(10, -1)) "
     "  ELSE floor(doc_id * 1.5 * power(10, -1)) END / power(10, -1) AS tens "
     "FROM documents ORDER BY doc_id"),
    ("array_agg_distinct",
     "SELECT n_regionkey, "
     "array_sort(array_agg(DISTINCT substr(n_name, 1, 1))) AS initials "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
     "SELECT n_regionkey, "
     "list_sort(array_agg(DISTINCT substr(n_name, 1, 1))) AS initials "
     "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"),
    ("row_constructor",
     # ROW(..) → struct: tuple comparison in a predicate.
     "SELECT doc_id FROM documents "
     "WHERE ROW(lang, doc_id % 2) = ROW('en', CAST(0 AS BIGINT)) "
     "ORDER BY doc_id",
     "SELECT doc_id FROM documents "
     "WHERE (lang, doc_id % 2) = ('en', 0) ORDER BY doc_id"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES10])
def test_trino_statement_matches_oracle_wave10(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino10:{name}")


def test_cast_as_row_type_lowers_r8():
    # r8: named ROW casts lower to positional struct casts; AS ROW
    # outside a CAST type position stays refused.
    out = rewrite_trino_sql("SELECT CAST(ROW(1, 2) AS ROW(a INT, b INT))")
    assert "STRUCT<a: INT, b: INT>" in out and "struct(1, 2)" in out
    with pytest.raises(TrinoSqlUnsupported, match="AS ROW"):
        rewrite_trino_sql("SELECT x AS ROW(a INT) FROM t")


def test_array_agg_distinct_keeps_one_null(spark):
    """Trino array_agg(DISTINCT x) dedups but KEEPS one NULL — a plain
    collect_set rewrite would drop it."""
    out = execute_trino(
        spark,
        "SELECT array_agg(DISTINCT x) AS a "
        "FROM (VALUES (1), (1), (NULL), (NULL), (2)) t(x)").collect()[0].a
    assert sorted(v for v in out if v is not None) == [1, 2]
    assert sum(1 for v in out if v is None) == 1
    with pytest.raises(TrinoSqlUnsupported, match="array_agg"):
        rewrite_trino_sql("SELECT array_agg(DISTINCT x ORDER BY y) FROM t")


def test_array_agg_distinct_order_by_self(spark):
    """array_agg(DISTINCT x ORDER BY x): dedup then sort — ASC puts the
    kept NULL last, DESC first (Trino's default null ordering both
    ways)."""
    row = execute_trino(
        spark,
        "SELECT array_agg(DISTINCT x ORDER BY x) AS a, "
        "array_agg(DISTINCT x ORDER BY x DESC) AS d "
        "FROM (VALUES (2), (1), (NULL), (2), (NULL)) t(x)").collect()[0]
    assert row.a == [1, 2, None]
    assert row.d == [None, 2, 1]


def test_geometric_mean_nonpositive_is_nan(spark):
    """Trino propagates NaN for non-positive inputs; Spark's ln yields
    NULL which avg would silently skip — the rewrite guards it."""
    out = execute_trino(
        spark,
        "SELECT geometric_mean(x) AS gm FROM (VALUES (4.0), (-1.0)) t(x)")
    import math
    assert math.isnan(out.collect()[0].gm)


def test_ignore_nulls_passthrough(spark, sf_dir, oracle):
    """Trino's lag/first_value ... IGNORE NULLS parses natively in
    Spark — pin the passthrough with an oracle comparison."""
    sql = ("SELECT event_id, "
           "lag(json_value(props, 'lax $.k')) IGNORE NULLS OVER "
           "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_k "
           "FROM events ORDER BY event_id")
    duck = ("SELECT event_id, "
            "lag(json_extract_string(props, '$.k') IGNORE NULLS) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_k "
            "FROM events ORDER BY event_id")
    check_query(execute_trino(spark, sql, sf_dir), oracle, duck,
                name="ignore_nulls")


CASES11 = [
    ("geometric_mean_zero_vs_negative",
     # r7 (ADVICE): zeros with no negatives -> 0.0 (Trino accumulates
     # Math.log: exp(-Infinity) = 0), any negative -> NaN. The r6
     # guard mapped both to NaN.
     "SELECT CAST(geometric_mean(CASE WHEN o_orderkey % 2 = 0 THEN 0.0 "
     "ELSE o_totalprice END) AS VARCHAR) AS gm_zero, "
     "CAST(geometric_mean(CASE WHEN o_orderkey % 2 = 0 THEN -1.0 "
     "ELSE o_totalprice END) AS VARCHAR) AS gm_neg "
     "FROM orders",
     "SELECT '0.0' AS gm_zero, 'NaN' AS gm_neg"),
    ("array_agg_null_sort_key_placement",
     # r7 (ADVICE): Trino sorts nulls as LARGER than any value — NULLS
     # LAST ascending, FIRST after DESC; Spark struct ordering puts
     # null fields first, so the rewrite leads with an is-null flag.
     "SELECT array_agg(v ORDER BY k) AS asc_a, "
     "array_agg(v ORDER BY k DESC) AS desc_a "
     "FROM (VALUES (1, 'a'), (CAST(NULL AS INTEGER), 'b'), (2, 'c')) "
     "AS t(k, v)",
     "SELECT ['a', 'c', 'b'] AS asc_a, ['b', 'c', 'a'] AS desc_a"),
    ("cast_as_json_serializes",
     # r7: CAST(x AS JSON) — varchar becomes a QUOTED JSON string
     # (Trino does not parse), complex types serialize to nested JSON,
     # nested nulls render as JSON null.
     "SELECT CAST(o_orderstatus AS JSON) AS s, "
     "CAST(o_orderkey AS JSON) AS n, "
     "CAST(ARRAY[o_orderkey, NULL] AS JSON) AS arr "
     "FROM orders ORDER BY o_orderkey LIMIT 100",
     "SELECT '\"' || o_orderstatus || '\"' AS s, "
     "CAST(o_orderkey AS VARCHAR) AS n, "
     "'[' || o_orderkey || ',null]' AS arr "
     "FROM orders ORDER BY o_orderkey LIMIT 100"),
    ("groups_frame_string_path",
     # r7: GROUPS BETWEEN lowered from SQL text (dense_rank subquery +
     # RANGE-on-group-index); DuckDB has no GROUPS mode, so the oracle
     # is the definitional peer-group equivalence built independently:
     # dense_rank group index + the same frame in RANGE mode.
     "SELECT p_partkey, "
     "CAST(count(*) OVER (PARTITION BY p_brand ORDER BY p_size "
     "GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n_band, "
     "round(sum(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_size "
     "GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING), 4) AS sum_band "
     "FROM part ORDER BY p_partkey",
     "WITH g AS (SELECT *, dense_rank() OVER (PARTITION BY p_brand "
     "ORDER BY p_size) AS grp FROM part) "
     "SELECT p_partkey, "
     "CAST(count(*) OVER (PARTITION BY p_brand ORDER BY grp "
     "RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS n_band, "
     "round(sum(p_retailprice) OVER (PARTITION BY p_brand ORDER BY grp "
     "RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING), 4) AS sum_band "
     "FROM g ORDER BY p_partkey"),
    ("groups_frame_aliased_table",
     # r8 (ADVICE): the GROUPS wrap must survive a trailing table alias
     # and alias-qualified columns in the OVER spec.
     "SELECT p.p_partkey, "
     "CAST(count(*) OVER (PARTITION BY p.p_brand ORDER BY p.p_size "
     "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_band "
     "FROM part p ORDER BY p.p_partkey",
     "WITH g AS (SELECT *, dense_rank() OVER (PARTITION BY p_brand "
     "ORDER BY p_size) AS grp FROM part) "
     "SELECT p_partkey, "
     "CAST(count(*) OVER (PARTITION BY p_brand ORDER BY grp "
     "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_band "
     "FROM g ORDER BY p_partkey"),
    ("strict_json_member_chain",
     # r7: strict-mode paths that are plain member chains lower like
     # lax (they differ only in erroring on mismatch).
     "SELECT event_id, json_value(props, 'strict $.k') AS k "
     "FROM events ORDER BY event_id LIMIT 200",
     "SELECT event_id, json_extract_string(props, '$.k') AS k "
     "FROM events ORDER BY event_id LIMIT 200"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES11])
def test_trino_statement_matches_oracle_wave11(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino11:{name}")


# --------------------------------------------------------------- wave 12 (r8)
CASES12 = [
    ("row_cast_named_fields",
     # CAST(.. AS ROW(..)) named-row types: both engines cast row
     # fields positionally; the target names become the field names.
     "SELECT o_orderkey, "
     "CAST(ROW(o_orderkey * 2, o_orderstatus) AS ROW(k BIGINT, s VARCHAR)).s"
     " AS s2, "
     "CAST(ROW(o_orderkey) AS ROW(half DOUBLE)).half AS halfy "
     "FROM orders ORDER BY o_orderkey LIMIT 500",
     "SELECT o_orderkey, "
     "CAST(row(o_orderkey * 2, o_orderstatus) AS STRUCT(k BIGINT, s VARCHAR)).s"
     " AS s2, "
     "CAST(row(o_orderkey) AS STRUCT(half DOUBLE)).half AS halfy "
     "FROM orders ORDER BY o_orderkey LIMIT 500"),
    ("row_cast_nested_array",
     "SELECT o_orderkey, "
     "CAST(ROW(ARRAY[o_orderkey, o_orderkey + 1]) "
     "AS ROW(ks ARRAY(DOUBLE))).ks AS ks "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, "
     "CAST(row([o_orderkey, o_orderkey + 1]) "
     "AS STRUCT(ks DOUBLE[])).ks AS ks "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("try_arith_multi_operator",
     # r8: recursive arithmetic under TRY — mixed precedence, plus a
     # guaranteed-NULL division by zero.
     "SELECT o_orderkey, "
     "TRY(o_orderkey + o_orderkey * 2 - 1) AS v, "
     "TRY(o_totalprice / (o_orderkey - o_orderkey)) AS dz "
     "FROM orders ORDER BY o_orderkey LIMIT 500",
     "SELECT o_orderkey, "
     "o_orderkey + o_orderkey * 2 - 1 AS v, "
     "CAST(NULL AS DOUBLE) AS dz "
     "FROM orders ORDER BY o_orderkey LIMIT 500"),
    ("try_binary_twins",
     # TRY(from_base64/from_hex/url_decode): NULL exactly where Trino
     # catches the error, decoded value elsewhere.
     "SELECT to_hex(TRY(from_base64('AAAA'))) AS ok64, "
     "to_hex(TRY(from_base64(':::'))) AS bad64, "
     "to_hex(TRY(from_hex('0aff'))) AS okhex, "
     "to_hex(TRY(from_hex('zz'))) AS badhex, "
     "TRY(url_decode('a%20b')) AS okurl, "
     "TRY(url_decode('%zz')) AS badurl",
     "SELECT upper(hex(from_base64('AAAA'))) AS ok64, "
     "CAST(NULL AS VARCHAR) AS bad64, "
     "upper(hex(from_hex('0aff'))) AS okhex, "
     "CAST(NULL AS VARCHAR) AS badhex, "
     "'a b' AS okurl, CAST(NULL AS VARCHAR) AS badurl"),
    ("try_json_parse_validates",
     "SELECT event_id, TRY(json_parse(props)) AS p, "
     "TRY(json_parse('{not json')) AS bad "
     "FROM events ORDER BY event_id LIMIT 200",
     "SELECT event_id, "
     "CASE WHEN json_valid(props) THEN props ELSE NULL END AS p, "
     "CAST(NULL AS VARCHAR) AS bad "
     "FROM events ORDER BY event_id LIMIT 200"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES12])
def test_trino_statement_matches_oracle_wave12(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino12:{name}")


def test_row_cast_unnamed_fields_refused():
    with pytest.raises(TrinoSqlUnsupported, match="unnamed"):
        rewrite_trino_sql("SELECT CAST(ROW(1) AS ROW(INTEGER)) FROM t")


def test_try_over_comparison_refused():
    with pytest.raises(TrinoSqlUnsupported, match="comparison"):
        rewrite_trino_sql("SELECT TRY(a > b - 1) FROM t")


# --------------------------------------------------------------- wave 13 (r8)
CASES13 = [
    ("reduce_is_aggregate",
     # Trino reduce(arr, init, merge, finish) = Spark aggregate, arg
     # for arg; DuckDB replays with list_reduce-free arithmetic.
     "SELECT doc_id, "
     "reduce(split(text, ' '), 0, (s, w) -> s + length(w), s -> s) AS chars_nospace, "
     "reduce(split(text, ' '), CAST(0 AS BIGINT), (s, w) -> s + 1, "
     "s -> s * 2) AS twice_words "
     "FROM documents ORDER BY doc_id",
     "SELECT doc_id, "
     "list_sum(list_transform(str_split(text, ' '), w -> length(w))) "
     "AS chars_nospace, "
     "CAST(2 * len(str_split(text, ' ')) AS BIGINT) AS twice_words "
     "FROM documents ORDER BY doc_id"),
    ("iso8601_and_last_day",
     # temporal outputs compared as ISO strings (engine tz-type
     # normalization differs in pandas).
     "SELECT CAST(from_iso8601_timestamp('2024-03-05T06:07:08') AS VARCHAR)"
     " AS ts1, "
     "CAST(from_iso8601_date('2024-03-05') AS VARCHAR) AS d1, "
     "CAST(last_day_of_month(DATE '2024-02-11') AS VARCHAR) AS eom",
     "SELECT '2024-03-05 06:07:08' AS ts1, "
     "'2024-03-05' AS d1, '2024-02-29' AS eom"),
    ("parse_datetime_literal_pattern",
     "SELECT CAST(parse_datetime('05/03/2024 06:07', 'dd/MM/yyyy HH:mm') "
     "AS VARCHAR) AS ts1",
     "SELECT '2024-03-05 06:07:00' AS ts1"),
    ("bit_shifts",
     "SELECT bitwise_left_shift(5, 2) AS l, "
     "bitwise_right_shift(20, 2) AS r, "
     "bitwise_right_shift_arithmetic(-8, 1) AS ra",
     "SELECT 20 AS l, 5 AS r, -4 AS ra"),
    ("split_to_map_literal_delims",
     # compared via lookups (DuckDB's pandas MAP representation
     # differs from Spark's dict); the '.'/'|' delimiters prove the
     # regex-metachar escaping.
     "SELECT element_at(split_to_map('a=1,b=2,c=3', ',', '='), 'b') AS b_val, "
     "cardinality(split_to_map('a=1,b=2,c=3', ',', '=')) AS n_entries, "
     "element_at(split_to_map('x.1|y.2', '|', '.'), 'y') AS y_val",
     "SELECT '2' AS b_val, 3 AS n_entries, '2' AS y_val"),
    ("json_size_members",
     "SELECT json_size('{\"a\": [1, 2, 3], \"b\": {\"x\": 1, \"y\": 2}, "
     "\"c\": 7}', '$.a') AS arr_n, "
     "json_size('{\"a\": [1, 2, 3], \"b\": {\"x\": 1, \"y\": 2}}', '$.b') "
     "AS obj_n, "
     "json_size('{\"c\": 7}', '$.c') AS scalar_n, "
     "json_size('{\"c\": 7}', '$.zzz') AS miss_n",
     "SELECT 3 AS arr_n, 2 AS obj_n, 0 AS scalar_n, "
     "CAST(NULL AS INTEGER) AS miss_n"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES13])
def test_trino_statement_matches_oracle_wave13(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino13:{name}")


def test_split_to_map_computed_delims(spark, sf_dir, oracle):
    """split_to_map with COMPUTED delimiters (r9, formerly refused):
    both delimiters runtime-quoted via \\Q…\\E, so metachar VALUES
    ('|', '.') split literally."""
    df = execute_trino(
        spark,
        "SELECT element_at(split_to_map(s, ed, kd), 'y') AS y "
        "FROM (VALUES ('x.1|y.2', '|', '.')) AS t(s, ed, kd)", sf_dir)
    check_query(df, oracle, "SELECT '2' AS y", name="stm_computed")


def test_parse_datetime_computed_pattern_refused():
    with pytest.raises(TrinoSqlUnsupported, match="parse_datetime"):
        rewrite_trino_sql("SELECT parse_datetime(s, fmt_col) FROM t")


# --------------------------------------------------------------- wave 14 (r8)
CASES14 = [
    ("repeat_builds_array",
     # Trino repeat(element, n) -> ARRAY (Spark's repeat is string
     # repetition — the rename prevents a silent mistranslation).
     "SELECT doc_id, repeat(lang, 3) AS langs, "
     "cardinality(repeat(doc_id, 2)) AS n2 "
     "FROM documents ORDER BY doc_id LIMIT 200",
     "SELECT doc_id, [lang, lang, lang] AS langs, 2 AS n2 "
     "FROM documents ORDER BY doc_id LIMIT 200"),
    ("greatest_least_null_strict",
     # Trino: NULL if ANY argument is NULL; also the plain path.
     "SELECT o_orderkey, "
     "greatest(o_orderkey, 100) AS g, least(o_orderkey, 100) AS l, "
     "greatest(o_orderkey, CAST(NULL AS BIGINT)) AS gn, "
     "least(CAST(NULL AS BIGINT), o_orderkey) AS ln "
     "FROM orders ORDER BY o_orderkey LIMIT 300",
     "SELECT o_orderkey, "
     "greatest(o_orderkey, 100) AS g, least(o_orderkey, 100) AS l, "
     "CAST(NULL AS BIGINT) AS gn, CAST(NULL AS BIGINT) AS ln "
     "FROM orders ORDER BY o_orderkey LIMIT 300"),
    ("bitwise_aggs",
     "SELECT bitwise_and_agg(o_orderkey) AS ba, "
     "bitwise_or_agg(o_orderkey) AS bo "
     "FROM orders WHERE o_orderkey <= 64",
     "SELECT bit_and(o_orderkey) AS ba, bit_or(o_orderkey) AS bo "
     "FROM orders WHERE o_orderkey <= 64"),
]


@pytest.mark.parametrize("name,trino,duck", [(c[0], c[1], c[2]) for c in CASES14])
def test_trino_statement_matches_oracle_wave14(name, trino, duck, spark, sf_dir, oracle):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck or trino, name=f"trino14:{name}")


def test_extract_field_mapping(spark, sf_dir, oracle):
    # 2024-03-04 is a Monday: Trino DOW = 1 (ISO). DuckDB's own
    # isodow/dayofyear/weekofyear replay the Trino semantics.
    trino = ("SELECT EXTRACT(DOW FROM ts) AS dow, "
             "EXTRACT(DAY_OF_WEEK FROM ts) AS dow2, "
             "EXTRACT(DOY FROM ts) AS doy, "
             "EXTRACT(YEAR_OF_WEEK FROM ts) AS yow, "
             "EXTRACT(WEEK FROM ts) AS wk "
             "FROM events ORDER BY event_id LIMIT 500")
    duck = ("SELECT isodow(ts) AS dow, isodow(ts) AS dow2, "
            "dayofyear(ts) AS doy, "
            "CAST(isoyear(ts) AS BIGINT) AS yow, "
            "weekofyear(ts) AS wk "
            "FROM events ORDER BY event_id LIMIT 500")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="extract_fields")


def test_literal_integer_division_truncates(spark, sf_dir, oracle):
    """Trino 7/2 = 3 (integer); Spark's / is double. The all-literal
    form rewrites to div; double and column operands keep float
    division (documented)."""
    trino = ("SELECT 7 / 2 AS q, 100/7 AS q2, "
             "CAST(7.0 / 2 AS DOUBLE) AS d, "
             "o_orderkey / 2 AS col_div "
             "FROM orders ORDER BY o_orderkey LIMIT 100")
    duck = ("SELECT 7 // 2 AS q, 100 // 7 AS q2, "
            "CAST(7.0 / 2 AS DOUBLE) AS d, "
            "o_orderkey / 2 AS col_div "
            "FROM orders ORDER BY o_orderkey LIMIT 100")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="int_literal_div")
    # date literals inside strings are masked and untouched
    out = rewrite_trino_sql("SELECT '1995/01/02' AS s, 8/4 AS q")
    assert "'1995/01/02'" in out and "(8 div 4)" in out


def test_mixed_division_chain_folds_literal_prefix(spark, sf_dir, oracle):
    """r10 advice fix: 7/2/x used to stay entirely unrewritten, so
    Spark computed 3.5/x where Trino computes (7/2)=3 then 3/x. The
    all-literal leading prefix now folds (it is leftmost, so folding
    is safe); a column-led chain keeps the documented divergence."""
    trino = ("SELECT 7/2/(o_orderkey + 1) AS m, "
             "100/7/3/(o_orderkey + 1) AS m2, "
             "CAST(7/2/2.5 AS DOUBLE) AS md "
             "FROM orders ORDER BY o_orderkey LIMIT 50")
    duck = ("SELECT CAST(3 AS DOUBLE)/(o_orderkey + 1) AS m, "
            "CAST(4 AS DOUBLE)/(o_orderkey + 1) AS m2, "
            "CAST(3/2.5 AS DOUBLE) AS md "
            "FROM orders ORDER BY o_orderkey LIMIT 50")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="mixed_div_chain")
    out = rewrite_trino_sql("SELECT o_orderkey/7/2 AS a FROM orders")
    assert "div" not in out   # column-led chain: left-context veto holds


# ------------------------------------------------- TPC-H via dialect (r8)
def test_full_tpch_suite_runs_as_trino_text(spark, sf_dir, oracle):
    """The completeness statement for a migrating user: the ENTIRE
    TPC-H 22 (fixture-adapted; plus the pricing-summary flagship) runs
    as SQL TEXT through execute_trino and hash-matches the DuckDB
    oracle. For 20 queries the oracle text itself is plain ANSI and
    doubles as the Trino text (the rewriter passes it through
    unchanged); q3/q18 use Trino's %-pattern date_format where the
    oracle uses DuckDB strftime."""
    from okera_trino_spark.registry import load_all_queries

    specs = load_all_queries()
    overrides = {}
    for k in ("q_tpch_q3", "q_tpch_q18"):
        overrides[k] = specs[k].oracle.replace(
            "strftime(o.o_orderdate, '%Y-%m-%d')",
            "date_format(o.o_orderdate, '%Y-%m-%d')")
    keys = sorted(k for k in specs if k.startswith("q_tpch_q"))
    keys.append("q_pricing_summary")
    # q2-q22 under q_tpch_*; Q1 is the pricing-summary flagship
    assert len(keys) == 22
    for k in keys:
        osql = specs[k].oracle
        trino_text = overrides.get(k, osql)
        df = execute_trino(spark, trino_text, sf_dir)
        check_query(df, oracle, osql, name=f"tpch_dialect:{k}")


def test_limit_all_is_no_limit(spark, sf_dir, oracle):
    trino = ("SELECT o_orderkey FROM orders "
             "WHERE o_orderkey <= 50 ORDER BY o_orderkey LIMIT ALL")
    duck = ("SELECT o_orderkey FROM orders "
            "WHERE o_orderkey <= 50 ORDER BY o_orderkey")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="limit_all")


JSON_QUERY_DOC = ('{"a":[{"b":1},{"b":"x"}],"c":"s","d":[{"b":[1,2]}],'
                  '"e":[{"b":"1"},{"b":1},{"c":7},{"d":[0,9],"b":1},'
                  '{"d":[0],"b":2}],'
                  '"f":[{"m":[5,"x"],"b":1},{"n":null,"b":2}]}')

JSON_QUERY_CASES = [
    ("wc_wrap", "json_query(j, 'lax $.a[*].b' WITH ARRAY WRAPPER)",
     "'[1,\"x\"]'"),
    ("wc_strict",
     "json_query(j, 'strict $.a[*].b' WITH UNCONDITIONAL ARRAY WRAPPER)",
     "'[1,\"x\"]'"),
    ("wc_nowrap_multi", "json_query(j, 'lax $.a[*].b')",
     "CAST(NULL AS VARCHAR)"),
    ("wc_nowrap_single", "json_query(j, 'lax $.d[*].b')", "'[1,2]'"),
    ("wc_wrap_nested",
     "json_query(j, 'lax $.d[*].b' WITH ARRAY WRAPPER)", "'[[1,2]]'"),
    ("wc_cond_single_arr",
     "json_query(j, 'lax $.d[*].b' WITH CONDITIONAL ARRAY WRAPPER)",
     "'[1,2]'"),
    ("keep_quotes", "json_query(j, 'lax $.c')", "'\"s\"'"),
    ("scalar_wrap", "json_query(j, 'lax $.c' WITH ARRAY WRAPPER)",
     "'[\"s\"]'"),
    ("scalar_cond",
     "json_query(j, 'lax $.c' WITH CONDITIONAL ARRAY WRAPPER)",
     "'[\"s\"]'"),
    ("missing_wrap", "json_query(j, 'lax $.zzz' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    # r9b: ?(@.chain <op> literal) filter steps. Type-mismatched
    # comparisons (@.b != 1 against b = "x") are UNKNOWN in SQL/JSON
    # path semantics — the item drops in lax mode on both engines, so
    # only the numeric b=1 participates and != 1 excludes it → NULL.
    ("filter_num",
     "json_query(j, 'lax $.a[*] ? (@.b != 1).b' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    ("filter_num_eq",
     "json_query(j, 'lax $.a[*] ? (@.b == 1).b' WITH ARRAY WRAPPER)",
     "'[1]'"),
    ("filter_str",
     "json_query(j, 'lax $.a[*] ? (@.b == \"x\")' WITH ARRAY WRAPPER)",
     "'[{\"b\":\"x\"}]'"),
    ("filter_none",
     "json_query(j, 'lax $.a[*] ? (@.b > 99).b' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    # r9c: SQL/JSON comparisons are TYPED — the JSON string "1" must
    # NOT match the number 1 (a bare variant cast would coerce it),
    # and a string filter must skip a numeric member; number filters
    # must skip string members symmetrically.
    ("filter_no_coerce_str",
     "json_query(j, 'lax $.e[*] ? (@.b == \"1\")' WITH ARRAY WRAPPER)",
     "'[{\"b\":\"1\"}]'"),
    ("filter_no_coerce_num",
     "json_query(j, 'lax $.e[*] ? (@.b == 1).b' WITH ARRAY WRAPPER)",
     "'[1,1]'"),
    ("filter_str_skips_num",
     "json_query(j, 'lax $.e[*] ? (@.c == \"7\")' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    # r9c: lax array auto-unwrap — an array-valued member matches
    # when ANY element satisfies the comparison.
    ("filter_unwrap",
     "json_query(j, 'lax $.e[*] ? (@.d > 8).b' WITH ARRAY WRAPPER)",
     "'[1]'"),
    ("filter_unwrap_miss",
     "json_query(j, 'lax $.e[*] ? (@.d > 99).b' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    # r11: ISO comparison rule under lax auto-unwrap — a mixed-type
    # array member ([5,"x"] > 1) has an errored pair, so the whole
    # comparison is UNKNOWN (drops) even though 5 > 1 is true …
    ("filter_unwrap_mixed_err",
     "json_query(j, 'lax $.f[*] ? (@.m > 1).b' WITH ARRAY WRAPPER)",
     "CAST(NULL AS VARCHAR)"),
    # … and !(...) observes the distinction: UNKNOWN stays UNKNOWN
    # (first f-element drops) while the missing-member FALSE flips to
    # TRUE (second f-element kept).
    ("filter_unwrap_mixed_neg",
     "json_query(j, 'lax $.f[*] ? (!(@.m > 1)).b' WITH ARRAY WRAPPER)",
     "'[2]'"),
    # r11: JSON null under an ORDERING operator is UNKNOWN (null
    # participates in no ordering) — so !(@.n < 5) drops the n=null
    # element (¬UNKNOWN = UNKNOWN) and keeps only the missing-member
    # FALSE→TRUE element.
    ("filter_null_ordering_neg",
     "json_query(j, 'lax $.f[*] ? (!(@.n < 5)).b' WITH ARRAY WRAPPER)",
     "'[1]'"),
    # Equality against JSON null is NOT an error: == is FALSE,
    # <> is TRUE (null is an ordinary item equal only to itself).
    ("filter_null_neq",
     "json_query(j, 'lax $.f[*] ? (@.n != 5).b' WITH ARRAY WRAPPER)",
     "'[2]'"),
]


@pytest.mark.parametrize("name,expr,expected",
                         JSON_QUERY_CASES, ids=[c[0] for c in JSON_QUERY_CASES])
def test_json_query_wrappers(spark, sf_dir, oracle, name, expr, expected):
    """json_query VARIANT lowering (r9): exact JSON item text with
    KEEP QUOTES, single-[*] wildcards, all three wrapper forms."""
    trino = (f"SELECT {expr} AS v FROM (SELECT '{JSON_QUERY_DOC}' AS j "
             "FROM nation WHERE n_nationkey = 0) t")
    duck = f"SELECT {expected} AS v"
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"json_query:{name}")


def test_xxh64_bit_exact_vs_spark_builtin(spark):
    """The pure-Python XXH64 (trino_compat.xxh64) is verified against
    SPARK'S OWN xxhash64 builtin at seed 42 across stripe and tail
    boundary lengths (0/1/3/31/32/33/39/55/200 bytes) plus the
    canonical empty-input vector — the same algorithm Trino's
    io.airlift.slice.XxHash64 runs at seed 0, so the seed-0 dialect
    form inherits the proof."""
    from pyspark.sql import functions as F

    from okera_trino_spark.functions.trino_compat import xxh64

    assert xxh64(b"") == 0xEF46DB3751D8E999
    tests = [b"", b"a", b"abc", b"hello world" * 5, bytes(range(200)),
             b"x" * 31, b"y" * 32, b"z" * 33, b"q" * 39]
    got = (spark.createDataFrame([(t,) for t in tests], "b binary")
           .select(F.xxhash64("b").alias("h")).collect())
    for t, row in zip(tests, got):
        mine = xxh64(t, 42)
        if mine >= 1 << 63:
            mine -= 1 << 64
        assert mine == row.h, f"len={len(t)}"


def test_xxh64_batch_matches_reference():
    """The numpy-vectorized xxh64_batch (r10 — the UDF's execution
    path) is bit-equal to the pure-Python reference across every
    stripe/tail boundary length, random inputs, and both seeds; the
    reference itself is proven against Spark's builtin above."""
    import random

    from okera_trino_spark.functions.trino_compat import (xxh64,
                                                          xxh64_batch)

    rng = random.Random(7)
    cases = [b"", b"a", b"abc"]
    cases += [bytes(rng.randrange(256) for _ in range(length))
              for length in (3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32, 33,
                             39, 40, 63, 64, 65, 95, 96, 100, 127, 128,
                             200, 1000)]
    cases += [bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
              for _ in range(100)]
    for seed in (0, 42):
        got = xxh64_batch(cases, seed=seed)
        for i, c in enumerate(cases):
            assert int(got[i]) == xxh64(c, seed=seed), (
                f"len={len(c)} seed={seed}")


def test_xxhash64_dialect_varbinary(spark, sf_dir):
    """Trino xxhash64(varbinary) → varbinary: seed-0 hash written as
    little-endian Slice bytes (VarbinaryFunctions.java)."""
    row = execute_trino(
        spark, "SELECT xxhash64(to_utf8('')) AS h0, "
        "xxhash64(to_utf8(n_name)) AS hn FROM nation "
        "WHERE n_nationkey = 0", sf_dir).collect()[0]
    from okera_trino_spark.functions.trino_compat import xxh64
    assert row.h0 == (0xEF46DB3751D8E999).to_bytes(8, "little")
    assert row.hn == xxh64(b"NATION_0").to_bytes(8, "little")


def test_json_value_handler_clauses_refuse_by_name():
    """r9: with the DEFAULT handlers (NULL ON EMPTY / NULL ON ERROR)
    the get_json_object lowering is faithful even for strict paths —
    Trino's default turns the strict structural error into NULL. An
    explicit ERROR/DEFAULT handler would change runtime behavior, so
    it refuses naming the clause."""
    with pytest.raises(TrinoSqlUnsupported, match="ON ERROR"):
        rewrite_trino_sql(
            "SELECT json_value(p, 'strict $.k' ERROR ON ERROR) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="ON EMPTY"):
        rewrite_trino_sql(
            "SELECT json_value(p, 'lax $.k' DEFAULT 'x' ON EMPTY) FROM t")


def test_json_query_filter_size_method(spark, sf_dir, oracle):
    """?(@.chain.size() <op> n) (r10): SQL/JSON size() — array element
    count, 1 for any other item (lax); missing member drops (UNKNOWN);
    composes with comparison atoms under &&."""
    doc = ('{"k":[{"t":[1,2,3],"v":1},{"t":[9],"v":2},'
           '{"t":5,"v":3},{"v":4}]}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.k[*] ?(@.t.size() > 1) .v' "
        "WITH ARRAY WRAPPER) AS big, "
        f"json_query('{doc}', 'lax $.k[*] ?(@.t.size() == 1) .v' "
        "WITH ARRAY WRAPPER) AS one, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.t.size() >= 1 && @.v < 3) .v' "
        "WITH ARRAY WRAPPER) AS both_cl", sf_dir)
    # element 1: t array size 3; element 2: size 1; element 3: scalar
    # → size 1; element 4: missing t → UNKNOWN, drops everywhere
    check_query(
        df, oracle,
        "SELECT '[1]' AS big, '[2,3]' AS one, '[1,2]' AS both_cl",
        name="jsonpath_size")


def test_json_query_terminal_size_method(spark, sf_dir, oracle):
    """Terminal .size() (r10): array element count as a JSON number
    item; 1 for scalars (lax); missing member → NULL ON EMPTY;
    composes with [*] tails and ?(...) filters."""
    doc = '{"k":[{"t":[1,2,3]},{"t":[9]},{"t":5},{}],"s":"ab"}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.k.size()') AS ksz, "
        f"json_query('{doc}', 'lax $.s.size()') AS ssz, "
        f"json_query('{doc}', 'lax $.missing.size()') AS msz, "
        f"json_query('{doc}', 'lax $.k[*].t.size()' WITH ARRAY WRAPPER)"
        " AS tsz, "
        f"json_query('{doc}', 'lax $.k[*] ?(@.t.size() > 1) .t.size()' "
        "WITH ARRAY WRAPPER) AS fsz", sf_dir)
    check_query(
        df, oracle,
        "SELECT '4' AS ksz, '1' AS ssz, CAST(NULL AS VARCHAR) AS msz, "
        "'[3,1,1]' AS tsz, '[3]' AS fsz",
        name="jsonpath_terminal_size")


def test_json_query_filter_type_method(spark, sf_dir, oracle):
    """?(@.chain.type() <op> "word") (r10): type-word comparison;
    JSON null is a VOID variant so type()=="null" genuinely matches;
    missing member drops (UNKNOWN); composes with .size() under &&."""
    doc = '{"k":[{"v":1},{"v":"x"},{"v":null},{"v":[1,2]},{}]}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', "
        "'lax $.k[*] ?(@.v.type() == \"number\") .v' WITH ARRAY WRAPPER)"
        " AS num, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.v.type() == \"null\")' WITH ARRAY WRAPPER)"
        " AS nl, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.v.type() != \"number\" && @.v.size() >= 1) .v' "
        "WITH ARRAY WRAPPER) AS comp", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[1]' AS num, '[{\"v\":null}]' AS nl, "
        "'[\"x\",null,[1,2]]' AS comp",
        name="jsonpath_filter_type")


def test_json_query_terminal_type_method(spark, sf_dir, oracle):
    """Terminal .type() (r10): the SQL/JSON type word as a quoted JSON
    string (KEEP QUOTES); VOID variants make JSON null faithful;
    missing member → NULL ON EMPTY."""
    doc = '{"n":1.5,"s":"x","b":true,"a":[1],"o":{"x":1},"z":null}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.n.type()') AS tn, "
        f"json_query('{doc}', 'lax $.s.type()') AS ts, "
        f"json_query('{doc}', 'lax $.b.type()') AS tb, "
        f"json_query('{doc}', 'lax $.a.type()') AS ta, "
        f"json_query('{doc}', 'lax $.o.type()') AS t_o, "
        f"json_query('{doc}', 'lax $.z.type()') AS tz, "
        f"json_query('{doc}', 'lax $.missing.type()') AS tm, "
        f"json_query('{doc}', 'lax $.a[*].type()' WITH ARRAY WRAPPER)"
        " AS tarr", sf_dir)
    check_query(
        df, oracle,
        "SELECT '\"number\"' AS tn, '\"string\"' AS ts, "
        "'\"boolean\"' AS tb, '\"array\"' AS ta, '\"object\"' AS t_o, "
        "'\"null\"' AS tz, CAST(NULL AS VARCHAR) AS tm, "
        "'[\"number\"]' AS tarr",
        name="jsonpath_terminal_type")


def test_json_query_refusals():
    # && compounds, .size()/.type()/.double(), parenthesized
    # sub-predicates, !(...), exists(), multi-[*] (r10) and the
    # numeric methods/[n to m] ranges (r11) GRADUATED — what stays
    # refused: .keyvalue()/.datetime(), filters off the [*] step,
    # several filters, bare !atom (invalid in Trino too), and
    # unbalanced filters
    for bad in ["SELECT json_query(p, 'lax $.a?(@.b > 1)') FROM t",
                "SELECT json_query(p, 'lax $.a.keyvalue()') FROM t",
                "SELECT json_query(p, 'lax $.a.datetime()') FROM t",
                "SELECT json_query(p, 'lax $.a[*]?(!@.b == 1)') FROM t",
                "SELECT json_query(p, 'lax $.a[*]?()') FROM t",
                "SELECT json_query(p, 'lax $.a[*]?((@.b > 1)') FROM t",
                "SELECT json_query(p, "
                "'lax $.a[*]?(@.b > 1).c[*]?(@.d > 2)') FROM t",
                "SELECT json_query(p, 'lax $.a' OMIT QUOTES) FROM t"]:
        with pytest.raises(TrinoSqlUnsupported, match="json_query"):
            rewrite_trino_sql(bad)


def test_json_query_double_method(spark, sf_dir, oracle):
    """.double() item method (r10): number and numeric-string items
    render as the double's canonical text (Java Double.toString on
    both engines); any other item is a CONVERSION error — lax does
    not suppress it, so in a wildcard chain it nulls the WHOLE result
    (ON ERROR default), unlike structural misses which just drop. In
    a filter, the error is UNKNOWN → that element drops."""
    doc = ('{"n":3,"d":1.5,"s":"42","bad":"x","z":null,'
           '"a":[1,"2.5"],"m":[1,true]}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.n.double()') AS n, "
        f"json_query('{doc}', 'lax $.d.double()') AS d, "
        f"json_query('{doc}', 'lax $.s.double()') AS s, "
        f"json_query('{doc}', 'lax $.bad.double()') AS bad, "
        f"json_query('{doc}', 'lax $.z.double()') AS z, "
        f"json_query('{doc}', 'lax $.a[*].double()' WITH ARRAY WRAPPER)"
        " AS arr, "
        f"json_query('{doc}', 'lax $.m[*].double()' WITH ARRAY WRAPPER)"
        " AS err, "
        f"json_query('{doc}', 'lax $.a[*] ?(@.double() >= 2) .double()'"
        " WITH ARRAY WRAPPER) AS fd", sf_dir)
    check_query(
        df, oracle,
        "SELECT '3.0' AS n, '1.5' AS d, '42.0' AS s, "
        "CAST(NULL AS VARCHAR) AS bad, CAST(NULL AS VARCHAR) AS z, "
        "'[1.0,2.5]' AS arr, CAST(NULL AS VARCHAR) AS err, "
        "'[2.5]' AS fd",
        name="jsonpath_double_method")


def test_json_query_multi_wildcard(spark, sf_dir, oracle):
    """Multi-[*] chains (r10): per-step lax unwrap with auto-wrap of
    non-array items and document-order concatenation; one ?(...)
    filter may attach to any single step; the .type() terminal method
    and bare-@ comparisons compose."""
    doc = ('{"a":[{"b":[1,2],"c":1},{"b":3},{"c":2},{"b":[],"c":1}],'
           '"m":[[1,2],[3]],"s":5}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.a[*].b[*]' "
        "WITH ARRAY WRAPPER) AS ab, "
        f"json_query('{doc}', 'lax $.m[*][*]' WITH ARRAY WRAPPER) AS mm, "
        f"json_query('{doc}', 'lax $.a[*] ?(@.c == 1) .b[*]' "
        "WITH ARRAY WRAPPER) AS fb, "
        f"json_query('{doc}', 'lax $.a[*].b[*] ?(@ == 2)' "
        "WITH ARRAY WRAPPER) AS bare, "
        f"json_query('{doc}', 'lax $.s[*][*]' WITH ARRAY WRAPPER) AS ww, "
        f"json_query('{doc}', 'lax $.a[*].b[*].type()' "
        "WITH ARRAY WRAPPER) AS ty, "
        f"json_value('{doc}', 'lax $.m[*][*] ?(@ >= 3)') AS jv, "
        f"json_exists('{doc}', 'lax $.a[*].zz[*]') AS je", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[1,2,3]' AS ab, '[1,2,3]' AS mm, '[1,2]' AS fb, "
        "'[2]' AS bare, '[5]' AS ww, "
        "'[\"number\",\"number\",\"number\"]' AS ty, "
        "'3' AS jv, FALSE AS je",
        name="jsonpath_multi_wildcard")


def test_json_query_filter_parens_negation_exists(spark, sf_dir, oracle):
    """Wave 25 (r10): the full ?(...) predicate grammar — parens, !,
    exists — with the standard's exact K3 values, which only negation
    can observe: missing member → FALSE (so !(...) KEEPS it), JSON
    null vs literal → FALSE (<> → TRUE), type-mismatch → UNKNOWN
    (drops even under !)."""
    doc = ('{"k":[{"v":1,"w":"a"},{"v":2},{"v":3,"w":null},'
           '{"v":4,"w":"b"},{"v":"s","w":5}]}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', "
        "'lax $.k[*] ?(!(@.w == \"a\")) .v' WITH ARRAY WRAPPER) AS neg, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.w != \"a\") .v' WITH ARRAY WRAPPER) AS ne, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(exists(@.w)) .v' WITH ARRAY WRAPPER) AS ex, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(!exists(@.w)) .v' WITH ARRAY WRAPPER) AS nex, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?((@.v == 1 || @.v == 4) && @.w == \"b\") .v' "
        "WITH ARRAY WRAPPER) AS grp, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(!(@.v == 1 || @.v == 3)) .v' WITH ARRAY WRAPPER)"
        " AS dem, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(!(@.v.type() == \"number\")) .v' "
        "WITH ARRAY WRAPPER) AS ntyp, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(!(@.w.size() == 1)) .v' WITH ARRAY WRAPPER)"
        " AS nsz", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[2,3,4]' AS neg, '[3,4]' AS ne, '[1,3,4,\"s\"]' AS ex, "
        "'[2]' AS nex, '[4]' AS grp, '[2,4]' AS dem, '[\"s\"]' AS ntyp, "
        "'[2]' AS nsz",
        name="jsonpath_filter_full_grammar")


def test_jsonpath_strict_wildcard_no_autowrap(spark, sf_dir, oracle):
    """r10 review fix: strict ``[*]`` over a non-array is a structural
    ERROR → the ON ERROR default (NULL / FALSE), never a lax
    auto-wrapped value; strict over a real array still unwraps."""
    df = execute_trino(
        spark,
        "SELECT json_exists('{\"kk\":5}', 'strict $.kk[*]') AS e_sc, "
        "json_exists('{\"kk\":[5]}', 'strict $.kk[*]') AS e_arr, "
        "json_exists('{\"kk\":5}', 'lax $.kk[*]') AS e_lax, "
        "json_query('{\"kk\":5}', 'strict $.kk[*]' WITH ARRAY WRAPPER)"
        " AS q_sc, "
        "json_query('{\"kk\":[5]}', 'strict $.kk[*]' WITH ARRAY WRAPPER)"
        " AS q_arr", sf_dir)
    check_query(
        df, oracle,
        "SELECT FALSE AS e_sc, TRUE AS e_arr, TRUE AS e_lax, "
        "CAST(NULL AS VARCHAR) AS q_sc, '[5]' AS q_arr",
        name="jsonpath_strict_no_autowrap")


def test_jsonpath_strict_filters(spark, sf_dir, oracle):
    """Strict-mode ?(...) filters with !/exists (r11, formerly named
    refusals): a missing member is a structural error the filter's
    implicit handler turns into UNKNOWN — so under !(...) or !exists
    the element DROPS where lax (missing → FALSE → flips to TRUE)
    keeps it. Positive filters agree between the modes (FALSE and
    UNKNOWN both drop). No lax array-unwrap either: an array member
    under a scalar comparison is UNKNOWN in strict."""
    doc = '{"a":[{"b":1},{"c":2}],"m":[{"d":[5,1]}]}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', "
        "'strict $.a[*] ?(!(@.b == 1))' WITH ARRAY WRAPPER) AS sneg, "
        f"json_query('{doc}', "
        "'lax $.a[*] ?(!(@.b == 1))' WITH ARRAY WRAPPER) AS lneg, "
        f"json_query('{doc}', "
        "'strict $.a[*] ?(!exists(@.b))' WITH ARRAY WRAPPER) AS snex, "
        f"json_query('{doc}', "
        "'lax $.a[*] ?(!exists(@.b))' WITH ARRAY WRAPPER) AS lnex, "
        f"json_query('{doc}', "
        "'strict $.a[*] ?(@.b == 1)' WITH ARRAY WRAPPER) AS spos, "
        f"json_query('{doc}', "
        "'strict $.m[*] ?(!(@.d > 2))' WITH ARRAY WRAPPER) AS sarr, "
        f"json_query('{doc}', "
        "'lax $.m[*] ?(@.d > 2)' WITH ARRAY WRAPPER) AS larr",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT CAST(NULL AS VARCHAR) AS sneg, "
        "'[{\"c\":2}]' AS lneg, "
        "CAST(NULL AS VARCHAR) AS snex, "
        "'[{\"c\":2}]' AS lnex, "
        "'[{\"b\":1}]' AS spos, "
        "CAST(NULL AS VARCHAR) AS sarr, "
        "'[{\"d\":[5,1]}]' AS larr",
        name="jsonpath_strict_filters")


def test_jsonpath_lax_member_unwrap(spark, sf_dir, oracle):
    """r10 review fix: lax MEMBER access after [*] unwraps an array
    element one level first (an array-of-objects element contributes
    every object's member), and lax METHOD APPLICATION (.double())
    unwraps an array item before converting — one failing element is
    a conversion error that nulls the whole result."""
    df = execute_trino(
        spark,
        "SELECT json_query('{\"a\":[[{\"b\":1},{\"b\":2}],{\"b\":3}]}', "
        "'lax $.a[*].b' WITH ARRAY WRAPPER) AS mu, "
        "json_query('{\"a\":[[1,2],3]}', 'lax $.a[*].double()' "
        "WITH ARRAY WRAPPER) AS du, "
        "json_query('{\"a\":[[1,\"x\"],3]}', 'lax $.a[*].double()' "
        "WITH ARRAY WRAPPER) AS derr, "
        "json_query('{\"bad\":[1,2]}', 'lax $.bad.double()' "
        "WITH ARRAY WRAPPER) AS pu, "
        "json_query('{\"bad\":[1,2]}', 'lax $.bad.double()') AS pm, "
        "json_query('{\"k\":[{\"a\":[1,5]},{\"a\":2}]}', "
        "'lax $.k[*] ?(@.a.double() > 4)' WITH ARRAY WRAPPER) AS fu",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT '[1,2,3]' AS mu, '[1.0,2.0,3.0]' AS du, "
        "CAST(NULL AS VARCHAR) AS derr, '[1.0,2.0]' AS pu, "
        "CAST(NULL AS VARCHAR) AS pm, '[{\"a\":[1,5]}]' AS fu",
        name="jsonpath_lax_member_unwrap")


def test_jsonpath_last_subscript(spark, sf_dir, oracle):
    """[last] subscript (r10, lax): an array item's final element;
    non-arrays auto-wrap (the item itself); an empty array is the
    suppressed out-of-bounds error → drops; composes with [*] steps
    and filters; strict mode refuses by name."""
    doc = ('{"a":[1,2,3],"e":[],"s":5,"k":[{"b":[1,9]},{"b":[2]}],'
           '"z":[null,7]}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.a[last]') AS a, "
        f"json_query('{doc}', 'lax $.e[last]' WITH ARRAY WRAPPER)"
        " AS e, "
        f"json_query('{doc}', 'lax $.s[last]') AS s, "
        f"json_query('{doc}', 'lax $.k[*].b[last]' WITH ARRAY WRAPPER)"
        " AS kb, "
        f"json_value('{doc}', 'lax $.a[last]') AS jv, "
        f"json_exists('{doc}', 'lax $.e[last]') AS je, "
        f"json_query('{doc}', 'lax $.a[last] ?(@ == 3)' "
        "WITH ARRAY WRAPPER) AS fl", sf_dir)
    check_query(
        df, oracle,
        "SELECT '3' AS a, CAST(NULL AS VARCHAR) AS e, '5' AS s, "
        "'[9,2]' AS kb, '3' AS jv, FALSE AS je, '[3]' AS fl",
        name="jsonpath_last_subscript")


def test_floor_double_matches_java_math(spark):
    """Property check for the DOUBLE-domain floor the numeric item
    methods ride (r11 review fix): bit-agreement with Python's
    math.floor (== Java Math.floor away from ±0.0, which the callers
    branch around) across magnitudes INCLUDING beyond 2^53 and 2^63,
    where Spark's BIGINT floor saturates."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from okera_trino_spark.functions.trino_sql import _floor_double

    expr = _floor_double("CAST(v AS DOUBLE)")

    @settings(max_examples=60, deadline=None)
    @given(st.one_of(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        st.floats(min_value=1e15, max_value=1e308,
                  allow_nan=False, allow_infinity=False),
        st.floats(min_value=-1e308, max_value=-1e15,
                  allow_nan=False, allow_infinity=False),
    ))
    def check(v):
        got = spark.sql(
            f"SELECT {expr.replace('v', repr(v))} AS f").collect()[0].f
        want = float(math.floor(v))
        assert got == want, (v, got, want)

    check()


def test_jsonpath_numeric_methods(spark, sf_dir, oracle):
    """Terminal .ceiling()/.floor()/.abs() item methods (r11, formerly
    named refusals over the -0.0 corner): integer items stay integers,
    fractional items compute in DOUBLE with Java Math semantics —
    including Math.ceil of (-1,0) = -0.0, the corner that kept these
    refused. Non-number items are errors → whole-result NULL; lax
    method application unwraps an array one level."""
    doc = ('{"a":2.3,"b":-0.5,"c":-2.3,"d":7,"e":-7,'
           '"f":[1.5,-1.5],"s":"x","z":0.0}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.a.ceiling()') AS ca, "
        f"json_query('{doc}', 'lax $.b.ceiling()') AS cb, "
        f"json_query('{doc}', 'lax $.c.ceiling()') AS cc, "
        f"json_query('{doc}', 'lax $.c.floor()') AS fc, "
        f"json_query('{doc}', 'lax $.a.floor()') AS fa, "
        f"json_query('{doc}', 'lax $.d.ceiling()') AS cd, "
        f"json_query('{doc}', 'lax $.e.abs()') AS ae, "
        f"json_query('{doc}', 'lax $.f.abs()' WITH ARRAY WRAPPER) "
        "AS af, "
        f"json_query('{doc}', 'lax $.s.ceiling()') AS cs, "
        f"json_query('{doc}', 'lax $.z.ceiling()') AS cz, "
        f"json_query('{doc}', 'lax $.k[*].v.floor()' WITH ARRAY "
        "WRAPPER) AS missing_fl "
        "FROM nation WHERE n_nationkey = 0", sf_dir)
    check_query(
        df, oracle,
        "SELECT '3.0' AS ca, '-0.0' AS cb, '-2.0' AS cc, '-3.0' AS fc, "
        "'2.0' AS fa, '7' AS cd, '7' AS ae, '[1.5,1.5]' AS af, "
        "CAST(NULL AS VARCHAR) AS cs, '0.0' AS cz, "
        "CAST(NULL AS VARCHAR) AS missing_fl",
        name="jsonpath_numeric_methods")


def test_jsonpath_numeric_method_filters(spark, sf_dir, oracle):
    """Filter-position .ceiling()/.floor()/.abs() atoms (r11, with the
    terminal forms): number items only — strings/arrays(strict)/
    missing members land on the standard K3 values, observable under
    negation; lax unwraps arrays one level with the ISO
    any-error-UNKNOWN rule."""
    doc = ('{"k":[{"x":2.3},{"x":-2.3},{"x":7},{"x":"s"},'
           '{"x":[1.2,3.4]},{"y":1}]}')
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', "
        "'lax $.k[*] ?(@.x.ceiling() == 3).x' WITH ARRAY WRAPPER) "
        "AS c3, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.x.floor() == -3).x' WITH ARRAY WRAPPER) "
        "AS fm3, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(@.x.abs() > 2).x' WITH ARRAY WRAPPER) AS a2, "
        f"json_query('{doc}', "
        "'lax $.k[*] ?(!(@.x.ceiling() == 3)).x' WITH ARRAY WRAPPER) "
        "AS nc3, "
        f"json_query('{doc}', "
        "'strict $.k[*] ?(!(@.x.abs() > 100)).x' WITH ARRAY WRAPPER) "
        "AS sna FROM nation WHERE n_nationkey = 0", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[2.3]' AS c3, '[-2.3]' AS fm3, "
        "'[2.3,-2.3,7,[1.2,3.4]]' AS a2, "
        "'[-2.3,7,[1.2,3.4]]' AS nc3, '[2.3,-2.3,7]' AS sna",
        name="jsonpath_numeric_method_filters")


def test_jsonpath_range_subscripts(spark, sf_dir, oracle):
    """[n to m] range subscripts (r11, formerly unmatched → named
    error): elements n..m 0-based inclusive, 'last' as the upper end.
    Lax auto-wraps a non-array (in range iff n == 0) and clamps
    out-of-range ends; strict errors the whole result on a non-array
    or an out-of-range end; filters compose on the step."""
    doc = '{"a":[10,20,30,40,50],"s":7,"e":[]}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'lax $.a[1 to 3]' "
        "WITH ARRAY WRAPPER) AS r13, "
        f"json_query('{doc}', 'lax $.a[3 to last]' "
        "WITH ARRAY WRAPPER) AS r3l, "
        f"json_query('{doc}', 'lax $.a[3 to 9]' "
        "WITH ARRAY WRAPPER) AS clamp, "
        f"json_query('{doc}', 'lax $.s[0 to 2]' "
        "WITH ARRAY WRAPPER) AS wrap0, "
        f"json_query('{doc}', 'lax $.s[1 to 2]' "
        "WITH ARRAY WRAPPER) AS wrap1, "
        f"json_query('{doc}', 'lax $.e[0 to 1]' "
        "WITH ARRAY WRAPPER) AS emp, "
        f"json_query('{doc}', 'strict $.a[1 to 3]' "
        "WITH ARRAY WRAPPER) AS s13, "
        f"json_query('{doc}', 'strict $.a[3 to 9]' "
        "WITH ARRAY WRAPPER) AS serr, "
        f"json_query('{doc}', 'strict $.s[0 to 1]' "
        "WITH ARRAY WRAPPER) AS snon, "
        f"json_exists('{doc}', 'strict $.a[2 to last]') AS sel, "
        f"json_query('{doc}', 'lax $.a[1 to 3] ?(@ >= 30)' "
        "WITH ARRAY WRAPPER) AS rf "
        "FROM nation WHERE n_nationkey = 0", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[20,30,40]' AS r13, '[40,50]' AS r3l, "
        "'[40,50]' AS clamp, '[7]' AS wrap0, "
        "CAST(NULL AS VARCHAR) AS wrap1, CAST(NULL AS VARCHAR) AS emp, "
        "'[20,30,40]' AS s13, CAST(NULL AS VARCHAR) AS serr, "
        "CAST(NULL AS VARCHAR) AS snon, TRUE AS sel, '[30,40]' AS rf",
        name="jsonpath_range_subscripts")
    with pytest.raises(TrinoSqlUnsupported, match="n > m"):
        rewrite_trino_sql(
            "SELECT json_query(p, 'lax $.a[3 to 1]') FROM t")


def test_jsonpath_review_fixes_r11(spark, sf_dir, oracle):
    """r11 code-review regressions, pinned:

    - strict trailing MEMBER access after a wildcard step: a missing
      member on any element is a structural error → whole-result
      NULL/FALSE (was a silent lax-style drop);
    - .double() filter unwrap follows the ISO any-errored-pair rule
      (was bare exists letting TRUE win over a conversion error);
    - .ceiling()/.floor() stay in the DOUBLE domain (was BIGINT floor
      saturating 1e300 to ~9.22e18);
    - max(x,n) OVER w (named window) refuses by name like OVER (...).
    """
    doc = '{"k":[{"v":1},{"w":2}],"f":[{"m":[5,"x"],"b":1}],"big":1e300}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'strict $.k[*].v' "
        "WITH ARRAY WRAPPER) AS sm, "
        f"json_exists('{doc}', 'strict $.k[*].v') AS sme, "
        f"json_query('{doc}', 'lax $.k[*].v' WITH ARRAY WRAPPER) "
        "AS lm, "
        f"json_query('{doc}', 'lax $.f[*] ?(@.m.double() > 1).b' "
        "WITH ARRAY WRAPPER) AS derr, "
        f"json_query('{doc}', 'lax $.big.ceiling()') AS cbig, "
        f"json_query('{doc}', 'lax $.big.floor()') AS fbig "
        "FROM nation WHERE n_nationkey = 0", sf_dir)
    check_query(
        df, oracle,
        "SELECT CAST(NULL AS VARCHAR) AS sm, FALSE AS sme, "
        "'[1]' AS lm, CAST(NULL AS VARCHAR) AS derr, "
        "'1.0E300' AS cbig, '1.0E300' AS fbig",
        name="jsonpath_review_fixes_r11")
    with pytest.raises(TrinoSqlUnsupported, match="window"):
        rewrite_trino_sql(
            "SELECT max(x, 3) OVER w FROM t WINDOW w AS "
            "(PARTITION BY g)")
    # second review pass: an implicit alias starting with 'over' is
    # NOT a window reference (word boundary required) …
    assert "slice(sort_array" in rewrite_trino_sql(
        "SELECT max(x, 3) overall FROM t GROUP BY g")
    # … and strict trailing chains must grow LINEARLY in the generated
    # SQL (the exists+transform form doubled per accessor — 5
    # accessors hit ~12k chars, 20 would be hundreds of MB).
    n5 = len(rewrite_trino_sql(
        "SELECT json_query(p, 'strict $.a[*].b.c.d.e.f') FROM t"))
    n6 = len(rewrite_trino_sql(
        "SELECT json_query(p, 'strict $.a[*].b.c.d.e.f.g') FROM t"))
    assert n5 < 4000 and (n6 - n5) < 600, (n5, n6)


def test_jsonpath_strict_deep_chain(spark, sf_dir, oracle):
    """Strict trailing chains stay correct after the single-embed
    rewrite: all-present resolves, one missing member anywhere errors
    the whole result."""
    ok = '{"a":[{"b":{"c":{"d":1}}},{"b":{"c":{"d":2}}}]}'
    bad = '{"a":[{"b":{"c":{"d":1}}},{"b":{"c":{}}}]}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{ok}', 'strict $.a[*].b.c.d' "
        "WITH ARRAY WRAPPER) AS okv, "
        f"json_query('{bad}', 'strict $.a[*].b.c.d' "
        "WITH ARRAY WRAPPER) AS badv, "
        f"json_exists('{bad}', 'strict $.a[*].b.c.d') AS bade, "
        f"json_query('{bad}', 'lax $.a[*].b.c.d' WITH ARRAY WRAPPER) "
        "AS laxv FROM nation WHERE n_nationkey = 0", sf_dir)
    check_query(
        df, oracle,
        "SELECT '[1,2]' AS okv, CAST(NULL AS VARCHAR) AS badv, "
        "FALSE AS bade, '[1]' AS laxv",
        name="jsonpath_strict_deep_chain")


def test_jsonpath_strict_last(spark, sf_dir, oracle):
    """Strict [last] (r11, formerly a named refusal): a non-array item
    or an EMPTY array is a structural error → the whole result is the
    ON ERROR default (NULL / FALSE), where lax auto-wraps the
    non-array and silently drops the empty-array element."""
    doc = '{"a":[1,2,3],"e":[],"s":5}'
    df = execute_trino(
        spark,
        f"SELECT json_query('{doc}', 'strict $.a[last]') AS a, "
        f"json_query('{doc}', 'strict $.s[last]') AS s, "
        f"json_query('{doc}', 'strict $.e[last]' WITH ARRAY WRAPPER)"
        " AS e, "
        f"json_value('{doc}', 'strict $.a[last]') AS jv, "
        f"json_exists('{doc}', 'strict $.e[last]') AS je, "
        f"json_exists('{doc}', 'strict $.a[last]') AS ja, "
        f"json_exists('{doc}', 'strict $.s[last]') AS js", sf_dir)
    check_query(
        df, oracle,
        "SELECT '3' AS a, CAST(NULL AS VARCHAR) AS s, "
        "CAST(NULL AS VARCHAR) AS e, '3' AS jv, FALSE AS je, "
        "TRUE AS ja, FALSE AS js",
        name="jsonpath_strict_last")


def test_json_value_scalar_guard(spark, sf_dir, oracle):
    """r10: Trino json_value ERRORS on an array/object item (default
    NULL ON ERROR → NULL); the old get_json_object lowering returned
    their JSON text — a silent divergence, now gated by a VARIANT
    scalar-ness check. Scalars keep get_json_object's text; a JSON
    null item is SQL NULL."""
    doc = '{"o":{"x":1},"a":[1,2],"s":"txt","n":2.5,"b":true,"z":null}'
    df = execute_trino(
        spark,
        f"SELECT json_value('{doc}', 'lax $.s') AS s, "
        f"json_value('{doc}', 'lax $.n') AS n, "
        f"json_value('{doc}', 'lax $.b') AS b, "
        f"json_value('{doc}', 'lax $.z') AS z, "
        f"json_value('{doc}', 'lax $.o') AS o, "
        f"json_value('{doc}', 'lax $.a') AS arr, "
        f"json_value('{doc}', 'strict $.o') AS so", sf_dir)
    check_query(
        df, oracle,
        "SELECT 'txt' AS s, '2.5' AS n, 'true' AS b, "
        "CAST(NULL AS VARCHAR) AS z, CAST(NULL AS VARCHAR) AS o, "
        "CAST(NULL AS VARCHAR) AS arr, CAST(NULL AS VARCHAR) AS so",
        name="json_value_scalar_guard")


def test_json_value_wildcard_filter(spark, sf_dir, oracle):
    """r10: json_value over one-[*] chains with filters — exactly one
    matched item returns its scalar (strings unquoted), zero → NULL ON
    EMPTY, several or a non-scalar item → error → NULL ON ERROR; lax
    [*] auto-wraps a scalar head."""
    doc = ('{"k":[{"v":1,"w":"a"},{"v":2},{"v":3,"w":"b"}],"kk":5,'
           '"ws":["x"]}')
    df = execute_trino(
        spark,
        f"SELECT json_value('{doc}', 'lax $.k[*] ?(@.w == \"b\") .v')"
        " AS one, "
        f"json_value('{doc}', 'lax $.k[*] ?(@.v >= 2) .v') AS multi, "
        f"json_value('{doc}', 'lax $.k[*] ?(@.w == \"zz\") .v') AS zero, "
        f"json_value('{doc}', 'lax $.k[*] ?(@.w == \"b\")') AS obj, "
        f"json_value('{doc}', 'lax $.kk[*]') AS wrap, "
        f"json_value('{doc}', 'lax $.ws[*]') AS uq", sf_dir)
    check_query(
        df, oracle,
        "SELECT '3' AS one, CAST(NULL AS VARCHAR) AS multi, "
        "CAST(NULL AS VARCHAR) AS zero, CAST(NULL AS VARCHAR) AS obj, "
        "'5' AS wrap, 'x' AS uq",
        name="json_value_wildcard_filter")


def test_json_exists(spark, sf_dir, oracle):
    """r10: json_exists — TRUE iff the path selects ≥1 item. A JSON
    null item EXISTS; a missing member is FALSE (lax empty sequence);
    malformed JSON → FALSE (default FALSE ON ERROR); NULL input
    propagates NULL."""
    doc = '{"k":[{"v":1},{"v":2,"w":"b"}],"z":null,"kk":5}'
    df = execute_trino(
        spark,
        f"SELECT json_exists('{doc}', 'lax $.z') AS z, "
        f"json_exists('{doc}', 'lax $.missing') AS m, "
        f"json_exists('{doc}', 'lax $.k[*] ?(@.v >= 2 && @.w == \"b\")')"
        " AS f1, "
        f"json_exists('{doc}', 'lax $.k[*] ?(@.v > 99)') AS f0, "
        f"json_exists('{doc}', 'lax $.missing[*]') AS mw, "
        f"json_exists('{doc}', 'lax $.kk[*]') AS wrap, "
        "json_exists('not json', 'lax $.a') AS bad, "
        # all-NULL BOOLEAN columns canonicalize differently between
        # pandas NaN (DuckDB) and None (Spark) — render as VARCHAR
        "CAST(json_exists(CAST(NULL AS VARCHAR), 'lax $.a') AS VARCHAR)"
        " AS nul", sf_dir)
    check_query(
        df, oracle,
        "SELECT TRUE AS z, FALSE AS m, TRUE AS f1, FALSE AS f0, "
        "FALSE AS mw, TRUE AS wrap, FALSE AS bad, "
        "CAST(NULL AS VARCHAR) AS nul",
        name="json_exists")


def test_json_value_exists_refusals():
    for bad in ["SELECT json_value(p, 'lax $.a.size()') FROM t",
                "SELECT json_value(p, 'lax $.a?(@.b > 1)[*]') FROM t",
                "SELECT json_exists(p, 'lax $.a.type()') FROM t",
                "SELECT json_exists(p, 'lax $.a' TRUE ON ERROR) FROM t",
                "SELECT json_exists(p, concat('$', x)) FROM t"]:
        with pytest.raises(TrinoSqlUnsupported,
                           match="json_value|json_exists"):
            rewrite_trino_sql(bad)


def test_fetch_with_ties(spark, sf_dir, oracle):
    """WITH TIES keeps every row tying the cutoff sort key (rank()
    lowering, r9); result is strictly larger than n when the n-th key
    is duplicated."""
    trino = ("SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od "
             "FROM orders WHERE o_orderkey < 4000 "
             "ORDER BY od FETCH FIRST 10 ROWS WITH TIES")
    duck = ("SELECT o_orderkey, od FROM ("
            "SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od, "
            "rank() OVER (ORDER BY CAST(o_orderdate AS VARCHAR)) AS r "
            "FROM orders WHERE o_orderkey < 4000) t WHERE r <= 10")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="fetch_ties")


def test_fetch_with_ties_qualified_key(spark, sf_dir, oracle):
    """r10 advice fix: a QUALIFIED sort key (o.o_orderkey) whose bare
    column name collides with a select-list entry must not
    alias-substitute into o.(expr) — dotted tokens are left alone."""
    trino = ("SELECT o.o_orderkey, CAST(o.o_orderdate AS VARCHAR) AS od "
             "FROM orders o WHERE o.o_orderkey < 4000 "
             "ORDER BY o.o_orderkey FETCH FIRST 10 ROWS WITH TIES")
    duck = ("SELECT o_orderkey, CAST(o_orderdate AS VARCHAR) AS od "
            "FROM orders WHERE o_orderkey < 4000 "
            "ORDER BY o_orderkey LIMIT 10")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="fetch_ties_qualified")


def test_fetch_with_ties_offset_named_error(spark, sf_dir):
    """r10 advice fix: OFFSET between ORDER BY and FETCH (valid Trino)
    would be swallowed into the window sort keys — refuse by name."""
    with pytest.raises(TrinoSqlUnsupported, match="OFFSET"):
        execute_trino(
            spark,
            "SELECT o_orderkey FROM orders ORDER BY o_orderkey "
            "OFFSET 5 ROWS FETCH FIRST 10 ROWS WITH TIES", sf_dir)


def test_fetch_with_ties_desc_multikey(spark, sf_dir, oracle):
    trino = ("SELECT o_orderpriority, o_orderstatus FROM orders "
             "WHERE o_orderkey < 2000 "
             "ORDER BY o_orderpriority DESC, o_orderstatus "
             "FETCH NEXT 7 ROWS WITH TIES")
    duck = ("SELECT o_orderpriority, o_orderstatus FROM ("
            "SELECT o_orderpriority, o_orderstatus, rank() OVER ("
            "ORDER BY o_orderpriority DESC, o_orderstatus) AS r "
            "FROM orders WHERE o_orderkey < 2000) t WHERE r <= 7")
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name="fetch_ties_desc")


def test_fetch_with_ties_refusals():
    # Trino itself rejects TIES without ORDER BY.
    with pytest.raises(TrinoSqlUnsupported, match="requires ORDER BY"):
        rewrite_trino_sql(
            "SELECT n_name FROM nation FETCH FIRST 3 ROWS WITH TIES")
    with pytest.raises(TrinoSqlUnsupported, match="ordinal"):
        rewrite_trino_sql("SELECT n_name FROM nation ORDER BY 1 "
                          "FETCH FIRST 3 ROWS WITH TIES")
    # count-less form defaults to 1 row
    out = rewrite_trino_sql("SELECT n_name AS a FROM nation "
                            "ORDER BY a FETCH FIRST ROW WITH TIES")
    assert "__tie_rnk <= 1" in out and "rank() OVER" in out


WAVE15 = [
    ("hamming", "SELECT hamming_distance('karolin', 'kathrin') AS d",
     "SELECT CAST(3 AS BIGINT) AS d"),
    ("bit8_neg", "SELECT bit_count(-7, 8) AS b",
     "SELECT CAST(6 AS BIGINT) AS b"),
    ("bit64", "SELECT bit_count(7, 64) AS b",
     "SELECT CAST(3 AS BIGINT) AS b"),
    ("ngrams", "SELECT ngrams(ARRAY['a','b','c'], 2) AS n",
     "SELECT [['a','b'],['b','c']] AS n"),
    ("ngrams_short", "SELECT ngrams(ARRAY['a','b'], 5) AS n",
     "SELECT [['a','b']] AS n"),
    ("jac_num", "SELECT json_array_contains('[1,2,3]', 2) AS b",
     "SELECT true AS b"),
    ("jac_str_miss", "SELECT json_array_contains('[\"x\"]', 'y') AS b",
     "SELECT false AS b"),
    ("cos_arr",
     "SELECT round(cosine_similarity(ARRAY[1.0, 2.0], "
     "ARRAY[2.0, 4.0]), 4) AS c",
     "SELECT round(CAST(1.0 AS DOUBLE), 4) AS c"),
    ("histogram_probe",
     "SELECT n_regionkey, histogram(n_nationkey % 2)[1] AS odd "
     "FROM nation GROUP BY n_regionkey",
     "SELECT n_regionkey, CAST(count(*) FILTER (WHERE n_nationkey % 2 "
     "= 1) AS BIGINT) AS odd FROM nation GROUP BY n_regionkey"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE15,
                         ids=[c[0] for c in WAVE15])
def test_trino_wave15(spark, sf_dir, oracle, name, trino, duck):
    """Dialect wave 15 (r8): histogram/multimap_agg/hamming_distance/
    2-arg bit_count/ngrams/json_array_contains/array cosine."""
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave15:{name}")


def test_trino_wave15_errors_and_multimap(spark, sf_dir):
    """Wave-15 edges: length/representability guards raise at runtime,
    the non-deterministic sketches raise named errors, and
    multimap_agg groups values per key (order-insensitive check —
    collect order is partition-dependent)."""
    with pytest.raises(Exception, match="same length"):
        execute_trino(spark, "SELECT hamming_distance('ab', 'abc') AS d",
                      sf_dir).collect()
    with pytest.raises(Exception, match="representable"):
        execute_trino(spark, "SELECT bit_count(300, 8) AS b",
                      sf_dir).collect()
    # approx_most_frequent gained an exact implementation in wave 17
    # (only a non-literal bucket count is refused — see wave 17 tests).
    with pytest.raises(TrinoSqlUnsupported, match="non-literal"):
        execute_trino(
            spark, "SELECT json_array_contains('[1]', n_regionkey) "
            "FROM nation", sf_dir)
    m = execute_trino(
        spark, "SELECT multimap_agg(n_regionkey, n_name) AS m "
        "FROM nation", sf_dir).collect()[0].m
    assert sorted(m.keys()) == [0, 1, 2, 3, 4]
    assert all(sorted(v) == sorted(set(v)) and len(v) == 5
               for v in m.values())


WAVE15B = [
    ("comb2", "SELECT combinations(ARRAY[1,2,3], 2) AS c",
     "SELECT [[1,2],[1,3],[2,3]] AS c"),
    ("comb3", "SELECT combinations(ARRAY[1,2,3,4], 3) AS c",
     "SELECT [[1,2,3],[1,2,4],[1,3,4],[2,3,4]] AS c"),
    ("comb1", "SELECT combinations(ARRAY['a','b'], 1) AS c",
     "SELECT [['a'],['b']] AS c"),
    ("comb_small", "SELECT combinations(ARRAY[1,2], 3) AS c",
     "SELECT []::BIGINT[][] AS c"),
    ("reduce_agg",
     "SELECT reduce_agg(n_nationkey, 0, (a, b) -> a + b, "
     "(a, b) -> a + b) AS s FROM nation",
     "SELECT CAST(sum(n_nationkey) AS BIGINT) AS s FROM nation"),
    ("from_unnest_ord",
     "SELECT * FROM UNNEST(ARRAY['a','b']) WITH ORDINALITY AS t(v, i)",
     "SELECT * FROM (VALUES ('a', CAST(1 AS BIGINT)), "
     "('b', CAST(2 AS BIGINT))) t(v, i)"),
    ("from_unnest_plain",
     "SELECT v FROM UNNEST(ARRAY[7, 8]) AS t(v)",
     "SELECT unnest([7, 8]) AS v"),
    ("comma_unnest",
     "SELECT n_name, w FROM nation, UNNEST(split(n_name, '_')) AS t(w) "
     "WHERE n_nationkey < 2",
     "SELECT n_name, unnest(str_split(n_name, '_')) AS w FROM nation "
     "WHERE n_nationkey < 2"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE15B,
                         ids=[c[0] for c in WAVE15B])
def test_trino_wave15b(spark, sf_dir, oracle, name, trino, duck):
    """Dialect wave 15b (r8): combinations (n = 1..3, CASE-guarded
    against the descending-sequence trap), reduce_agg (sequential fold
    of the collected inputs — Trino requires commutative/associative
    functions, so order is immaterial), and the two remaining UNNEST
    spellings (standalone FROM UNNEST and the implicit-lateral comma
    form)."""
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave15b:{name}")


def test_trino_wave15b_named_errors(spark, sf_dir):
    with pytest.raises(TrinoSqlUnsupported, match="combinations"):
        execute_trino(spark,
                      "SELECT combinations(ARRAY[1,2,3,4,5,6], 5) AS c",
                      sf_dir)
    # normalize() gained a real implementation in wave 17 — only a
    # non-standard form keyword is refused now (see wave 17 tests).


# -------------------------------------------- wave 16: conversions +
# durations + tz parts + digests, and the backslash-literal contract.
WAVE16 = [
    ("backslash_regex",
     # Trino string literals have NO escape character — '\d' must reach
     # the regex engine as backslash-d (Spark's parser would eat it).
     r"SELECT doc_id, regexp_extract(text, '\w+') AS w, "
     r"regexp_like(text, '\s') AS has_ws, "
     r"cardinality(regexp_extract_all(text, '[a-z]+\s')) AS n "
     "FROM documents ORDER BY doc_id LIMIT 200",
     r"SELECT doc_id, regexp_extract(text, '\w+') AS w, "
     r"regexp_matches(text, '\s') AS has_ws, "
     r"len(regexp_extract_all(text, '[a-z]+\s')) AS n "
     "FROM documents ORDER BY doc_id LIMIT 200"),
    ("to_from_base",
     "SELECT o_orderkey, to_base(o_orderkey, 16) AS hx, "
     "from_base(to_base(o_orderkey, 8), 8) AS rt "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, printf('%x', o_orderkey) AS hx, "
     "o_orderkey AS rt FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("strpos_instance",
     "SELECT strpos('banana', 'an', 2) AS a, strpos('banana', 'an', -1) AS b, "
     "strpos('banana', 'zz', 1) AS c, strpos('aaaa', 'aa', 3) AS d",
     "SELECT CAST(4 AS BIGINT) AS a, CAST(4 AS BIGINT) AS b, "
     "CAST(0 AS BIGINT) AS c, CAST(3 AS BIGINT) AS d"),
    ("strpos_instance_col",
     "SELECT doc_id, strpos(text, 'a', 2) AS p "
     "FROM documents ORDER BY doc_id LIMIT 200",
     "SELECT doc_id, coalesce("
     "list_filter(range(1, length(text) + 1), "
     "i -> substring(text, CAST(i AS INT), 1) = 'a')[2], 0) AS p "
     "FROM documents ORDER BY doc_id LIMIT 200"),
    ("regexp_position_fn",
     r"SELECT regexp_position('a1b2', '\d') AS a, "
     r"regexp_position('abc', '\d') AS b",
     "SELECT 2 AS a, -1 AS b"),
    ("duration_ms",
     "SELECT to_milliseconds(parse_duration('1.5m')) AS ms, "
     "to_milliseconds(INTERVAL '90' MINUTE) AS m90, "
     "to_milliseconds(INTERVAL '2 03:04:05' DAY TO SECOND) AS dts",
     "SELECT CAST(90000 AS BIGINT) AS ms, CAST(5400000 AS BIGINT) AS m90, "
     "CAST((((2 * 24 + 3) * 60 + 4) * 60 + 5) * 1000 AS BIGINT) AS dts"),
    ("to_iso8601_date",
     # o_orderdate is a TIMESTAMP in the fixtures → the T form;
     # the CAST exercises the DATE branch of the typeof dispatch.
     "SELECT o_orderkey, to_iso8601(o_orderdate) AS iso, "
     "to_iso8601(CAST(o_orderdate AS DATE)) AS iso_d "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.000') AS iso, "
     "strftime(o_orderdate, '%Y-%m-%d') AS iso_d "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("tz_parts",
     # session zone is UTC in tests → offset 0; with_timezone reads the
     # wall clock in the given zone and renders the UTC instant (the
     # same convention as zoned TIMESTAMP literals here).
     "SELECT timezone_hour(TIMESTAMP '2024-01-02 03:04:05') AS th, "
     "timezone_minute(TIMESTAMP '2024-01-02 03:04:05') AS tm, "
     "with_timezone(TIMESTAMP '2024-01-02 03:04:05', 'America/New_York') AS wt",
     "SELECT CAST(0 AS BIGINT) AS th, CAST(0 AS BIGINT) AS tm, "
     "TIMESTAMP '2024-01-02 08:04:05' AS wt"),
    ("big_endian_roundtrip",
     "SELECT o_orderkey, from_big_endian_64(to_big_endian_64(o_orderkey)) AS rt, "
     "from_big_endian_64(to_big_endian_64(-o_orderkey)) AS nrt "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, o_orderkey AS rt, -o_orderkey AS nrt "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("wilson_interval",
     # identical double-arithmetic text on both sides → identical IEEE
     # results; round(9) guards any fold-order difference.
     "SELECT o_orderkey, round(wilson_interval_lower(o_orderkey % 20, 25, 1.96), 9) AS lo, "
     "round(wilson_interval_upper(o_orderkey % 20, 25, 1.96), 9) AS hi "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, "
     "round(((o_orderkey % 20) / CAST(25 AS DOUBLE) + 1.96 * 1.96 / (2.0 * 25) - 1.96 * "
     "sqrt(((o_orderkey % 20) / CAST(25 AS DOUBLE)) * (1.0 - (o_orderkey % 20) / CAST(25 AS DOUBLE)) / 25 "
     "+ 1.96 * 1.96 / (4.0 * 25 * 25))) / (1.0 + 1.96 * 1.96 / 25), 9) AS lo, "
     "round(((o_orderkey % 20) / CAST(25 AS DOUBLE) + 1.96 * 1.96 / (2.0 * 25) + 1.96 * "
     "sqrt(((o_orderkey % 20) / CAST(25 AS DOUBLE)) * (1.0 - (o_orderkey % 20) / CAST(25 AS DOUBLE)) / 25 "
     "+ 1.96 * 1.96 / (4.0 * 25 * 25))) / (1.0 + 1.96 * 1.96 / 25), 9) AS hi "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("human_readable",
     "SELECT human_readable_seconds(0) AS z, human_readable_seconds(96) AS a, "
     "human_readable_seconds(3762) AS b, human_readable_seconds(691200) AS c",
     "SELECT '0 seconds' AS z, '1 minute, 36 seconds' AS a, "
     "'1 hour, 2 minutes, 42 seconds' AS b, '1 week, 1 day' AS c"),
    ("binary_digests",
     "SELECT doc_id, to_hex(md5(to_utf8(text))) AS m, "
     "to_hex(sha256(to_utf8(text))) AS s "
     "FROM documents ORDER BY doc_id LIMIT 200",
     "SELECT doc_id, upper(md5(text)) AS m, "
     "upper(sha256(text)) AS s "
     "FROM documents ORDER BY doc_id LIMIT 200"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE16,
                         ids=[c[0] for c in WAVE16])
def test_trino_wave16(spark, sf_dir, oracle, name, trino, duck):
    """Dialect wave 16 (r8): literal-backslash preservation (Trino
    literals have no escape character; _unmask doubles backslashes so
    Spark's parser delivers them intact), group-0 regexp defaults,
    base/byte-order conversion, occurrence-instance strpos, durations,
    time-zone parts, Wilson intervals, human_readable_seconds, and
    VARBINARY-returning digests."""
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave16:{name}")


def test_trino_wave16_named_errors(spark, sf_dir):
    # xxhash64 GRADUATED in r9, word_stem (english) in r10 — no longer
    # in this refusal list; non-english word_stem stays refused.
    # murmur3 GRADUATED late in r10, spooky_hash_v2_* in r12 (both
    # smhasher-verified — see test_spooky_smhasher_verification).
    for sql, pat in [
        ("SELECT word_stem('laufen', 'de') AS x", "word_stem"),
    ]:
        with pytest.raises(TrinoSqlUnsupported, match=pat):
            execute_trino(spark, sql, sf_dir)


def test_murmur3_smhasher_verification(spark, sf_dir):
    """MurmurHash3 x64_128's published smhasher VERIFICATION value
    (0x6384BA69): hash keys [0..i) at seed 256-i, hash the 4096-byte
    concatenation at seed 0, take the first 4 LE bytes — the spec's
    own whole-algorithm checksum (covers every tail length and the
    block loop). Plus the dialect plumbing end-to-end."""
    from okera_trino_spark.functions.trino_compat import murmur3_x64_128

    buf = b"".join(murmur3_x64_128(bytes(range(i)), seed=256 - i)
                   for i in range(256))
    assert int.from_bytes(murmur3_x64_128(buf)[:4], "little") == 0x6384BA69
    row = execute_trino(
        spark, "SELECT lower(to_hex(murmur3(to_utf8('abc')))) AS h",
        sf_dir).collect()[0]
    assert row.h == murmur3_x64_128(b"abc").hex()


def test_spooky_smhasher_verification(spark, sf_dir):
    """SpookyHash V2's published smhasher verification value for
    Spooky64 (0x972C4BDC): hash keys [0..i) at seed 256-i, concatenate
    the LE u64 digests, hash at seed 0, take the low 32 bits — the
    procedure exercises EVERY length 0..255, covering the short path,
    the 96-byte Mix-block long path, and the 192-byte boundary between
    them. hash32 is definitionally the low half of hash64 (public
    SpookyV2.h), so the same run verifies both dialect functions. Plus
    NULL propagation and the dialect plumbing end-to-end."""
    from okera_trino_spark.functions.trino_compat import (
        spooky_v2_32, spooky_v2_64)

    buf = b"".join(spooky_v2_64(bytes(range(i)), seed=256 - i)
                   .to_bytes(8, "little") for i in range(256))
    assert spooky_v2_64(buf) & 0xFFFFFFFF == 0x972C4BDC
    assert spooky_v2_32(b"hello") == spooky_v2_64(b"hello") & 0xFFFFFFFF
    rows = execute_trino(
        spark,
        "SELECT lower(to_hex(spooky_hash_v2_32(to_utf8('hello')))) AS h32, "
        "lower(to_hex(spooky_hash_v2_64(to_utf8('hello')))) AS h64, "
        "spooky_hash_v2_64(CAST(NULL AS BINARY)) AS hnull",
        sf_dir).collect()[0]
    assert rows.h32 == spooky_v2_32(b"hello").to_bytes(4, "big").hex()
    assert rows.h64 == spooky_v2_64(b"hello").to_bytes(8, "big").hex()
    assert rows.hnull is None


def test_parse_duration_column(spark, sf_dir, oracle):
    """Non-literal parse_duration (r10, formerly refused): the airlift
    Duration grammar replayed in codegen — magnitude * unit factor,
    NULL in → NULL out, non-conforming → error like Trino."""
    df = execute_trino(
        spark,
        "SELECT d, to_milliseconds(parse_duration(d)) AS ms "
        "FROM (VALUES ('1234 ms'), ('5.5m'), ('1.5h'), ('2d'), "
        "('42 s'), (NULL)) AS t(d)", sf_dir)
    check_query(
        df, oracle,
        "SELECT d, ms FROM (VALUES ('1234 ms', 1234), ('5.5m', 330000), "
        "('1.5h', 5400000), ('2d', 172800000), ('42 s', 42000), "
        "(NULL, NULL)) AS t(d, ms)",
        name="parse_duration_column")
    with pytest.raises(Exception, match="unparsable duration"):
        execute_trino(
            spark, "SELECT parse_duration(d) AS x "
            "FROM (VALUES ('bogus')) AS t(d)", sf_dir).collect()


# Porter2 verification vector: the snowballstem.org spec's own example
# pairs — every exceptional form, the post-1a invariants, and the per-step
# examples (1a ties/gaps, 1b hopping/hoped, 1c cry/by/say) — plus
# full-pipeline derivations spot-checked by hand against the spec
# (agreed→agre and luxuriated→luxuri run PAST the step-1b intermediates
# the spec text quotes, through step-5 e-deletion / step-4 ate-removal).
_PORTER2_VECTOR = {
    # exceptional forms (spec table)
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl", "sky": "sky",
    "news": "news", "howe": "howe", "atlas": "atlas", "cosmos": "cosmos",
    "bias": "bias", "andes": "andes",
    # post-step-1a invariants
    "inning": "inning", "outing": "outing", "canning": "canning",
    "herring": "herring", "earring": "earring", "proceed": "proceed",
    "exceed": "exceed", "succeed": "succeed", "proceeds": "proceed",
    "exceeding": "exceed",
    # step 1a spec examples
    "ties": "tie", "cries": "cri", "gas": "gas", "this": "this",
    "gaps": "gap", "kiwis": "kiwi", "caresses": "caress",
    # step 1b (+ downstream steps)
    "agreed": "agre", "feed": "feed", "luxuriated": "luxuri",
    "hopping": "hop", "hoped": "hope", "hoping": "hope",
    "controlling": "control",
    # step 1c spec examples
    "cry": "cri", "by": "by", "say": "say",
    # step 2-5 composites
    "consistency": "consist", "generate": "generat",
    "generates": "generat", "generating": "generat", "running": "run",
    "flies": "fli", "organization": "organ", "national": "nation",
    "rational": "ration", "conditional": "condit",
    "relational": "relat", "happiness": "happi", "happily": "happili",
    "abilities": "abil", "ability": "abil", "cats": "cat",
    "knives": "knive", "alumnus": "alumnus",
}


def test_porter2_vector():
    from okera_trino_spark.functions.stemmer import porter2_stem
    bad = {w: (porter2_stem(w), want)
           for w, want in _PORTER2_VECTOR.items()
           if porter2_stem(w) != want}
    assert not bad, f"porter2 mismatches (got, want): {bad}"


def test_base32_rfc4648_vectors(spark, sf_dir, oracle):
    """RFC 4648 §10's published base32 test vectors, both directions —
    the ALGORITHM half of the to_base32/from_base32 proof (the driver
    key proves plumbing with fixture data)."""
    vectors = {"": "", "f": "MY======", "fo": "MZXQ====",
               "foo": "MZXW6===", "foob": "MZXW6YQ=",
               "fooba": "MZXW6YTB", "foobar": "MZXW6YTBOI======"}
    cols = ", ".join(
        f"to_base32(to_utf8('{raw}')) AS e{i}, "
        f"CAST(from_base32('{enc}') AS VARCHAR) AS d{i}"
        for i, (raw, enc) in enumerate(vectors.items()))
    row = execute_trino(spark, f"SELECT {cols}", sf_dir).collect()[0]
    for i, (raw, enc) in enumerate(vectors.items()):
        assert row[f"e{i}"] == enc, f"encode {raw!r}"
        assert row[f"d{i}"] == raw, f"decode {enc!r}"
    with pytest.raises(Exception, match="base32"):
        execute_trino(spark, "SELECT from_base32(s) AS x "
                      "FROM (VALUES ('mzxq====')) AS t(s)",
                      sf_dir).collect()


def test_split_to_multimap(spark, sf_dir, oracle):
    """split_to_multimap (r10): duplicate keys accumulate values in
    entry order, keys keep first-appearance order; malformed entries
    raise like Trino."""
    df = execute_trino(
        spark,
        "SELECT CAST(CAST(split_to_multimap('a=1,b=2,a=3', ',', '=') "
        "AS JSON) AS VARCHAR) AS mm", sf_dir)
    assert df.collect()[0].mm == '{"a":["1","3"],"b":["2"]}'
    with pytest.raises(Exception, match="split_to_multimap"):
        execute_trino(
            spark, "SELECT split_to_multimap('a=1,b', ',', '=') AS x",
            sf_dir).collect()


def test_hmac_rfc_vectors(spark, sf_dir):
    """RFC 2202 (md5/sha1) and RFC 4231 (sha256/sha512) test case 2
    (key 'Jefe') — the ALGORITHM half of the hmac_* proof."""
    data, key = "what do ya want for nothing?", "Jefe"
    want = {
        "md5": "750c783e6ab0b503eaa86e310a5db738",
        "sha1": "effcdf6ae5eb2fa2d27416d5f184df9c259a7c79",
        "sha256": ("5bdcc146bf60754e6a042426089575c7"
                   "5a003f089d2739839dec58b964ec3843"),
        "sha512": ("164b7a7bfcf819e2e395fbe73b56e0a3"
                   "87bd64222e831fd610270cd7ea250554"
                   "9758bf75c05a994a6d034f65f8f0e6fd"
                   "caeab1a34d4a6b4b636e070a38bce737"),
    }
    cols = ", ".join(
        f"lower(to_hex(hmac_{alg}(to_utf8('{data}'), to_utf8('{key}'))))"
        f" AS h_{alg}" for alg in want)
    row = execute_trino(spark, f"SELECT {cols}", sf_dir).collect()[0]
    for alg, digest in want.items():
        assert row[f"h_{alg}"] == digest, alg


def test_ieee754_and_big_endian_32(spark, sf_dir):
    """IEEE 754 big-endian layout (Java doubleToLongBits /
    floatToIntBits) and the 32-bit endian pair: known bit patterns +
    exact round-trips + the 4-byte input rule."""
    row = execute_trino(
        spark,
        "SELECT to_hex(to_ieee754_64(1.0)) AS d1, "
        "to_hex(to_ieee754_32(CAST(0.5 AS REAL))) AS f1, "
        "from_ieee754_64(to_ieee754_64(0.1)) AS rt64, "
        "CAST(from_ieee754_32(to_ieee754_32(CAST(1.5 AS REAL))) "
        "AS DOUBLE) AS rt32, "
        "to_hex(to_big_endian_32(-1)) AS be_neg, "
        "from_big_endian_32(to_big_endian_32(-123456)) AS be_rt "
        , sf_dir).collect()[0]
    assert row.d1 == "3FF0000000000000"
    assert row.f1 == "3F000000"
    assert row.rt64 == 0.1
    assert row.rt32 == 1.5
    assert row.be_neg == "FFFFFFFF"
    assert row.be_rt == -123456
    with pytest.raises(Exception, match="4 bytes"):
        execute_trino(spark, "SELECT from_big_endian_32(b) AS x FROM "
                      "(VALUES (to_utf8('abcde'))) AS t(b)",
                      sf_dir).collect()


def test_multimap_from_entries(spark, sf_dir):
    df = execute_trino(
        spark,
        "SELECT CAST(CAST(multimap_from_entries("
        "ARRAY[ROW('a', 1), ROW('b', 2), ROW('a', 3)]) AS JSON) "
        "AS VARCHAR) AS mm", sf_dir)
    assert df.collect()[0].mm == '{"a":[1,3],"b":[2]}'


def test_wave24_scalar_predicates(spark, sf_dir, oracle):
    """is_finite / is_infinite / year_of_week / millisecond /
    to_base64url — DuckDB computes every one independently (base64url
    by alphabet translation), so this is a genuine differential test."""
    df = execute_trino(
        spark,
        "SELECT o_orderkey, "
        "is_finite(o_totalprice) AS fin, "
        "is_infinite(ln(o_totalprice - o_totalprice)) AS inf_ln, "
        "year_of_week(o_orderdate) AS yw, "
        "to_base64url(to_utf8(o_orderpriority)) AS b64u "
        "FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT o_orderkey, TRUE AS fin, TRUE AS inf_ln, "
        "CAST(date_part('isoyear', o_orderdate) AS INT) AS yw, "
        "replace(replace(to_base64(encode(o_orderpriority)), "
        "'+', '-'), '/', '_') AS b64u "
        "FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey",
        name="wave24_preds")


def test_approx_set_merge_cardinality(spark, sf_dir, oracle):
    """Trino's HLL triple (r10): approx_set → DataSketches
    hll_sketch_agg, merge → hll_union_agg, cardinality(<sketch>) →
    estimate. Sketch estimates are exact at these tiny cardinalities,
    so exact COUNT(DISTINCT) is a sound oracle (engine-specific sketch
    bytes are the documented approx_distinct-class divergence)."""
    df = execute_trino(
        spark,
        "SELECT cardinality(merge(h)) AS total FROM ("
        "SELECT o_orderstatus, approx_set(o_orderpriority) AS h "
        "FROM orders WHERE o_orderkey < 2000 GROUP BY o_orderstatus) g",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS total "
        "FROM orders WHERE o_orderkey < 2000",
        name="hll_triple")


def test_approx_set_error_bound_form(spark, sf_dir, oracle):
    """approx_set(x, e) — the max-standard-error form (r11): e maps to
    lgConfigK = ceil(log2((1.04/e)^2)). At e=0.01 that is lgK=14 —
    far above these cardinalities, so the estimate is exact and exact
    COUNT(DISTINCT) is a sound oracle."""
    df = execute_trino(
        spark,
        "SELECT cardinality(approx_set(o_orderpriority, 0.01)) AS total "
        "FROM orders WHERE o_orderkey < 2000",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS total "
        "FROM orders WHERE o_orderkey < 2000",
        name="approx_set_e")
    # the lgK mapping itself: e=0.26 floor → lgK=4, e=0.0040625 → 16
    out = rewrite_trino_sql("SELECT approx_set(x, 0.26) FROM t")
    assert "hll_sketch_agg(x, 4)" in out
    out = rewrite_trino_sql("SELECT approx_set(x, 0.0040625) FROM t")
    assert "hll_sketch_agg(x, 16)" in out


def test_approx_set_error_bound_refusals():
    """Non-literal or out-of-range error bounds refuse by name (the
    bound picks the sketch size at plan time)."""
    with pytest.raises(TrinoSqlUnsupported, match="literal"):
        rewrite_trino_sql("SELECT approx_set(x, e_col) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="outside"):
        rewrite_trino_sql("SELECT approx_set(x, 0.5) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="outside"):
        rewrite_trino_sql("SELECT approx_set(x, 0.001) FROM t")


def test_from_base64url_rejects_standard_alphabet(spark, sf_dir):
    """Trino's URL-safe decoder rejects '+'/'/' input; the lowering
    raises at execution instead of silently decoding (r11)."""
    df = execute_trino(
        spark, "SELECT from_base64url('a+b/') AS v FROM nation "
        "WHERE n_nationkey = 0", sf_dir)
    with pytest.raises(Exception, match="[Ii]nvalid base64url"):
        df.collect()
    # valid URL-safe input still round-trips
    row = execute_trino(
        spark, "SELECT from_utf8(from_base64url(to_base64url("
        "to_utf8('ok?/+')))) AS v FROM nation WHERE n_nationkey = 0",
        sf_dir).collect()[0]
    assert row.v == "ok?/+"


def test_minmax_n_window_form_refused():
    """max(x, n) OVER (...) is legal Trino but the collect_list top-n
    rewrite is aggregate-only — named refusal, not an analysis error."""
    with pytest.raises(TrinoSqlUnsupported, match="window"):
        rewrite_trino_sql(
            "SELECT max(x, 3) OVER (PARTITION BY g) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="window"):
        rewrite_trino_sql(
            "SELECT min(x, 2) over(ORDER BY y) FROM t")
    # the aggregate form still rewrites
    assert "slice(sort_array" in rewrite_trino_sql(
        "SELECT max(x, 3) FROM t GROUP BY g")


def test_qdigest_composed_forms(spark, sf_dir, oracle):
    """qdigest/tdigest read path (r11): the composed quantile lookups
    lower onto approx_percentile / the exact CDF. Exact oracle is
    sound on l_quantity (see q_trino_sql_qdigest's margin argument)."""
    df = execute_trino(
        spark,
        "SELECT value_at_quantile(qdigest_agg(l_quantity), 0.5e0) AS p50, "
        "value_at_quantile(tdigest_agg(l_quantity), 0.87e0) AS p87, "
        "quantile_at_value(qdigest_agg(l_quantity), 10) AS r10 "
        "FROM lineitem WHERE l_orderkey < 4000", sf_dir)
    check_query(
        df, oracle,
        "SELECT quantile_disc(l_quantity, 0.5) AS p50, "
        "quantile_disc(l_quantity, 0.87) AS p87, "
        "avg(CASE WHEN l_quantity <= 10 THEN 1.0 ELSE 0.0 END) AS r10 "
        "FROM lineitem WHERE l_orderkey < 4000",
        name="qdigest_composed")


def test_qdigest_refusals():
    """Standalone digests (sketch bytes) and weighted/pre-built forms
    keep named refusals (r11)."""
    with pytest.raises(TrinoSqlUnsupported, match="sketch bytes"):
        rewrite_trino_sql("SELECT qdigest_agg(x) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="sketch bytes"):
        rewrite_trino_sql("SELECT tdigest_agg(x) FROM t GROUP BY g")
    with pytest.raises(TrinoSqlUnsupported, match="pre-built"):
        rewrite_trino_sql(
            "SELECT value_at_quantile(sketch_col, 0.5) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="weight"):
        rewrite_trino_sql(
            "SELECT value_at_quantile(qdigest_agg(x, w), 0.5) FROM t")
    with pytest.raises(TrinoSqlUnsupported, match="pre-built"):
        rewrite_trino_sql(
            "SELECT quantile_at_value(merge(qdigest_agg(x)), 5) FROM t")


def test_index_and_char2hexint(spark, sf_dir):
    """Teradata-compat aliases (r10): index = strpos; char2hexint =
    UTF-16BE code-unit hex (uppercase like Trino)."""
    row = execute_trino(
        spark, "SELECT index('abcb', 'b') AS i1, index('abc', 'z') AS i0, "
        "char2hexint('aB') AS hx", sf_dir).collect()[0]
    assert (row.i1, row.i0, row.hx) == (2, 0, "00610042")


def test_map_union_and_minmax_n(spark, sf_dir, oracle):
    """map_union (deterministic smallest-entry-per-key instantiation of
    Trino's documented-arbitrary winner) and the n-arg max/min
    aggregates (top/bottom-n arrays, serialized for comparison)."""
    df = execute_trino(
        spark,
        "SELECT o_orderstatus, "
        "CAST(CAST(map_union(MAP(ARRAY[o_orderpriority], "
        "ARRAY[o_orderkey])) AS JSON) AS VARCHAR) AS mu, "
        "array_join(transform(max(o_orderkey, 3), "
        "x -> CAST(x AS VARCHAR)), ',') AS top3, "
        "array_join(transform(min(o_orderkey, 2), "
        "x -> CAST(x AS VARCHAR)), ',') AS bot2 "
        "FROM orders WHERE o_orderkey < 2000 "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus", sf_dir)
    check_query(
        df, oracle,
        """
        WITH mu AS (
            SELECT o_orderstatus,
                   '{' || string_agg('"' || o_orderpriority || '":'
                          || mk, ',' ORDER BY o_orderpriority) || '}'
                       AS mu
            FROM (SELECT o_orderstatus, o_orderpriority,
                         min(o_orderkey) AS mk
                  FROM orders WHERE o_orderkey < 2000
                  GROUP BY 1, 2) g
            GROUP BY o_orderstatus
        ), tops AS (
            SELECT o_orderstatus,
                   string_agg(k, ',' ORDER BY k DESC)
                       FILTER (WHERE rd <= 3) AS top3,
                   string_agg(k, ',' ORDER BY k)
                       FILTER (WHERE ra <= 2) AS bot2
            FROM (SELECT o_orderstatus,
                         CAST(o_orderkey AS VARCHAR) AS k,
                         row_number() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_orderkey DESC) AS rd,
                         row_number() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_orderkey) AS ra
                  FROM orders WHERE o_orderkey < 2000) r
            GROUP BY o_orderstatus
        )
        SELECT mu.o_orderstatus, mu.mu, tops.top3, tops.bot2
        FROM mu JOIN tops USING (o_orderstatus)
        ORDER BY o_orderstatus
        """,
        name="map_union_minmax_n")


def test_stat_cdf_functions(spark, sf_dir):
    """normal_cdf / inverse_normal_cdf / beta_cdf / inverse_beta_cdf
    (r10): literature quantiles, the closed-form beta polynomial
    (I_x(2,3) = 6x²-8x³+3x⁴), exact symmetry and round-trips, and
    Trino's domain errors."""
    row = execute_trino(
        spark,
        "SELECT normal_cdf(0, 1, 1.96) AS nc, "
        "inverse_normal_cdf(0, 1, 0.975) AS inc, "
        "beta_cdf(2, 3, 0.4) AS bc, "
        "inverse_beta_cdf(2, 3, beta_cdf(2, 3, 0.4)) AS ibc, "
        "normal_cdf(0, 1, 2.5) + normal_cdf(0, 1, -2.5) AS sym, "
        "normal_cdf(10, 2, 10) AS mid, "
        "beta_cdf(1, 4, 0.25) AS b14", sf_dir).collect()[0]
    assert abs(row.nc - 0.9750021048517795) < 1e-12
    assert abs(row.inc - 1.959963984540054) < 1e-9
    assert abs(row.bc - 0.5248) < 1e-12          # 6x²-8x³+3x⁴ at 0.4
    assert abs(row.ibc - 0.4) < 1e-12
    assert abs(row.sym - 1.0) < 1e-14
    assert row.mid == 0.5
    assert abs(row.b14 - (1 - 0.75 ** 4)) < 1e-12   # I_x(1,b)=1-(1-x)^b
    with pytest.raises(Exception, match="standardDeviation"):
        execute_trino(spark, "SELECT normal_cdf(0, s, 1) AS x "
                      "FROM (VALUES (0.0)) AS t(s)", sf_dir).collect()
    with pytest.raises(Exception, match="0, 1"):
        execute_trino(spark, "SELECT beta_cdf(2, 3, v) AS x "
                      "FROM (VALUES (1.5)) AS t(v)", sf_dir).collect()


def test_udf_null_handling_review_fixes(spark, sf_dir):
    """r10 review fixes: Arrow turns SQL NULL doubles into NaN before
    a pandas UDF sees them, AND ArrowEvalPython computes UDFs for all
    rows even under CASE — so (a) NULL args to the stat CDFs must
    yield NULL without tripping domain errors, (b) to_ieee754_64(NULL)
    must be NULL (it returned the NaN bit pattern), while genuine NaN
    keeps its IEEE bits, (c) subnormal p must not overflow the
    inverse-normal refinement."""
    row = execute_trino(
        spark,
        "SELECT normal_cdf(0, sd, 1) AS nc, to_ieee754_64(sd) AS bits, "
        "beta_cdf(2, 3, sd) AS bc "
        "FROM (VALUES (CAST(NULL AS DOUBLE)), (1.0)) AS t(sd) "
        "ORDER BY sd NULLS FIRST", sf_dir).collect()
    assert row[0].nc is None and row[0].bits is None and row[0].bc is None
    assert row[1].nc is not None and row[1].bits is not None
    nan_bits = execute_trino(
        spark, "SELECT to_hex(to_ieee754_64(nan())) AS h",
        sf_dir).collect()[0].h
    assert nan_bits == "7FF8000000000000"
    sub = execute_trino(
        spark, "SELECT inverse_normal_cdf(0, 1, 5e-324) AS q",
        sf_dir).collect()[0].q
    assert -40 < sub < -35


def test_xxh64_batch_outlier_memory_cap():
    """r10 review fix: a single large value in a batch must not
    allocate rows x maxlen dense padding — chunks re-pad to their own
    width and stay bit-exact."""
    from okera_trino_spark.functions.trino_compat import (xxh64,
                                                          xxh64_batch)

    vals = [b"x" * 9] * 50000 + [b"y" * (1 << 20)]
    got = xxh64_batch(vals)   # naive padding would be ~50 GiB
    assert int(got[0]) == xxh64(vals[0])
    assert int(got[-1]) == xxh64(vals[-1])


def test_porter2_total_function():
    """porter2_stem is total: never crashes, never empties a word, and
    never grows it by more than the one 'e' step 1b can append — over
    lowercase alpha words, apostrophe forms, and arbitrary unicode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from okera_trino_spark.functions.stemmer import porter2_stem

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz'", max_size=30),
        st.text(max_size=20)))
    def check(word):
        out = porter2_stem(word)
        assert isinstance(out, str)
        if len(word) > 2:
            assert len(out) <= len(word) + 1
            if word.isalpha():
                assert out

    check()


def test_word_stem_dialect(spark, sf_dir, oracle):
    """word_stem (r10, formerly a named error): english/default forms
    lower to the trino_word_stem pandas UDF; verified against a DuckDB
    literal replay of the Porter2 vector."""
    words = sorted(_PORTER2_VECTOR)
    vals = ", ".join(f"('{w}')" for w in words)
    df = execute_trino(
        spark,
        f"SELECT w, word_stem(w) AS s, word_stem(w, 'en') AS s_en "
        f"FROM (VALUES {vals}) AS t(w)", sf_dir)
    lits = ", ".join(f"('{w}', '{_PORTER2_VECTOR[w]}')" for w in words)
    check_query(
        df, oracle,
        f"SELECT w, s, s AS s_en FROM (VALUES {lits}) AS t(w, s)",
        name="word_stem")


def test_regexp_position_start_occurrence(spark, sf_dir, oracle):
    """regexp_position start/occurrence forms (r9, formerly refused):
    the 3-arg form re-offsets a suffix search; the 4-arg form replays
    matcher.find() — non-overlapping advance past each match (so
    'aa' in 'aaa' has no 2nd occurrence), empty matches advance by 1,
    exhaustion → -1, non-positive arguments raise like Trino."""
    df = execute_trino(
        spark,
        r"SELECT regexp_position('a1b2c3', '\d', 3) AS s3, "
        r"regexp_position('a1b2c3', '\d', 1, 3) AS o3, "
        r"regexp_position('a1b2c3', '\d', 5, 2) AS gone, "
        r"regexp_position('a1b2c3', '\d', 99) AS past, "
        r"regexp_position('aaa', 'aa', 1, 2) AS overlap, "
        r"regexp_position('ab', 'x*', 1, 2) AS empty2", sf_dir)
    check_query(
        df, oracle,
        "SELECT 4 AS s3, 6 AS o3, -1 AS gone, -1 AS past, "
        "-1 AS overlap, 2 AS empty2",
        name="regexp_position_forms")
    with pytest.raises(Exception, match="must be positive"):
        execute_trino(spark, r"SELECT regexp_position('a', 'a', 0) "
                      "AS x", sf_dir).collect()


def test_format_number(spark, sf_dir, oracle):
    """format_number (r9, formerly refused): unit-suffix rendering.
    The two documented Trino vectors (123456 → '123K', 1000000 →
    '1M') plus magnitude-dependent precision (#.## under 10, #.#
    under 100, # otherwise on the scaled value), sign, zero, the
    no-suffix band, and a column case. bround = HALF_EVEN, the
    DecimalFormat default."""
    df = execute_trino(
        spark,
        "SELECT format_number(123456) AS a, format_number(1000000) AS b,"
        " format_number(1234) AS c, format_number(12300) AS d,"
        " format_number(999) AS e, format_number(5) AS f,"
        " format_number(-123456) AS g, format_number(0) AS h,"
        " format_number(1500000000) AS i, format_number(2.5E12) AS j,"
        " format_number(999999) AS k, format_number(12.5) AS l",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT '123K' AS a, '1M' AS b, '1.23K' AS c, '12.3K' AS d,"
        " '999' AS e, '5' AS f, '-123K' AS g, '0' AS h, '1.5B' AS i,"
        " '2.5T' AS j, '1000K' AS k, '12.5' AS l",
        name="format_number_vectors")
    df = execute_trino(
        spark, "SELECT o_orderkey, format_number(o_totalprice) AS t "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT o_orderkey, CASE"
        " WHEN abs(o_totalprice) >= 1000 THEN"
        "  regexp_replace(regexp_replace(CAST(CAST(roundbankers("
        "    o_totalprice / 1000,"
        "    CASE WHEN abs(o_totalprice / 1000) < 10 THEN 2"
        "         WHEN abs(o_totalprice / 1000) < 100 THEN 1"
        "         ELSE 0 END) AS DECIMAL(38, 6)) AS VARCHAR),"
        "    '(\\.\\d*[1-9])0+$', '\\1'), '\\.0*$', '') || 'K'"
        " ELSE"
        "  regexp_replace(regexp_replace(CAST(CAST(roundbankers("
        "    o_totalprice,"
        "    CASE WHEN abs(o_totalprice) < 10 THEN 2"
        "         WHEN abs(o_totalprice) < 100 THEN 1"
        "         ELSE 0 END) AS DECIMAL(38, 6)) AS VARCHAR),"
        "    '(\\.\\d*[1-9])0+$', '\\1'), '\\.0*$', '')"
        " END AS t "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
        name="format_number_column")


# -------------------------------------------- wave 17: Unicode chr +
# normalize (UAX #15). Trino's chr is a CODEPOINT (Spark's char wraps
# at 256 — a silent mistranslation until this wave); normalize lowers
# onto the session-registered trino_normalize pandas UDF.
WAVE17 = [
    ("chr_literal",
     "SELECT chr(8364) AS a, chr(65) AS b, chr(128512) AS c, "
     "chr(10) AS nl, chr(39) AS q",
     "SELECT chr(8364) AS a, chr(65) AS b, chr(128512) AS c, "
     "chr(10) AS nl, chr(39) AS q"),
    ("chr_nonliteral",
     # column-driven codepoints across one-, two- and three-byte UTF-8
     # ranges plus the astral plane — exercises the arithmetic byte
     # construction, not the literal fast path.
     "SELECT o_orderkey, chr(o_orderkey % 500 + 160) AS bmp, "
     "chr(o_orderkey % 100 + 128000) AS astral, "
     "chr(o_orderkey % 26 + 97) AS ascii_c "
     "FROM orders ORDER BY o_orderkey LIMIT 200",
     "SELECT o_orderkey, chr(CAST(o_orderkey % 500 + 160 AS INT)) AS bmp, "
     "chr(CAST(o_orderkey % 100 + 128000 AS INT)) AS astral, "
     "chr(CAST(o_orderkey % 26 + 97 AS INT)) AS ascii_c "
     "FROM orders ORDER BY o_orderkey LIMIT 200"),
    ("normalize_nfc",
     # combining acute composes with the preceding letter under NFC;
     # ASCII document text is NFC-invariant and rides along to prove
     # the pass-through.
     "SELECT doc_id, normalize(substring(text, 1, 6) || 'e' || chr(769)) "
     "AS nfc, length(normalize('a' || chr(776))) AS one "
     "FROM documents ORDER BY doc_id LIMIT 200",
     "SELECT doc_id, nfc_normalize(substring(text, 1, 6) || 'e' || chr(769)) "
     "AS nfc, length(nfc_normalize('a' || chr(776))) AS one "
     "FROM documents ORDER BY doc_id LIMIT 200"),
    ("normalize_nfkc",
     # subscript zero → '0', the fi ligature → 'fi' under NFKC
     # (DuckDB has no NFKC builtin — expected values are constants).
     "SELECT normalize(chr(8320) || chr(64257), NFKC) AS k, "
     "normalize('x', nfd) AS passthru",
     "SELECT '0fi' AS k, 'x' AS passthru"),
    ("approx_most_frequent_exact",
     # the exact top-buckets map satisfies every sketch error bound
     # and is deterministic (count DESC, value ASC tie-break); the
     # map is rendered as an ordered entry string because Spark and
     # DuckDB MAP columns canonicalize differently through pandas.
     "SELECT o_orderstatus, "
     "array_join(transform(map_entries("
     "approx_most_frequent(2, o_orderpriority, 100)), "
     "e -> concat(e.key, ':', CAST(e.value AS VARCHAR))), ',') AS m "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "WITH c AS (SELECT o_orderstatus, o_orderpriority AS k, "
     "count(*) AS c FROM orders GROUP BY 1, 2), "
     "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus "
     "ORDER BY c DESC, k) AS rn FROM c) "
     "SELECT o_orderstatus, string_agg(k || ':' || c, ',' "
     "ORDER BY c DESC, k) AS m "
     "FROM r WHERE rn <= 2 GROUP BY o_orderstatus ORDER BY o_orderstatus"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE17,
                         ids=[c[0] for c in WAVE17])
def test_trino_wave17(spark, sf_dir, oracle, name, trino, duck):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave17:{name}")


def test_trino_wave17_normalize_matches_unicodedata(spark, sf_dir):
    """All four normalization forms must agree with CPython's
    unicodedata (the same UAX #15 algorithm Trino's
    java.text.Normalizer implements)."""
    import unicodedata

    samples = ["éclair", "éclair", "ﬁn", "x₀",
               "Å", "ä́b", "", "plain"]
    vals = ", ".join(f"('{s}')" for s in samples)
    for form in ["NFC", "NFD", "NFKC", "NFKD"]:
        rows = execute_trino(
            spark,
            f"SELECT s, normalize(s, {form}) AS n FROM (VALUES {vals}) "
            "AS t(s) ORDER BY s", sf_dir).collect()
        for r in rows:
            assert r.n == unicodedata.normalize(form, r.s), (form, r.s)


def test_trino_wave17_named_errors(spark, sf_dir):
    for sql, pat in [
        ("SELECT normalize('x', NFX) AS n", "form"),
        ("SELECT normalize('x', 'NFC') AS n", "form"),  # quoted ≠ keyword
        ("SELECT chr(55296) AS n", "codepoint"),
        ("SELECT chr(1114112) AS n", "codepoint"),
        ("SELECT approx_most_frequent(doc_id, lang, 100) AS m "
         "FROM documents", "literal integer"),
    ]:
        with pytest.raises(TrinoSqlUnsupported, match=pat):
            execute_trino(spark, sql, sf_dir)


# -------------------------------------------- wave 18: LISTAGG (SQL:2016)
# and luhn_check.
_DUCK_LUHN = (
    "list_sum(list_transform(range(1, length({S}) + 1), i -> "
    "CASE WHEN (length({S}) - i) % 2 = 1 THEN "
    "CASE WHEN ascii({S}[CAST(i AS INT)]) - 48 > 4 "
    "THEN (ascii({S}[CAST(i AS INT)]) - 48) * 2 - 9 "
    "ELSE (ascii({S}[CAST(i AS INT)]) - 48) * 2 END "
    "ELSE ascii({S}[CAST(i AS INT)]) - 48 END)) % 10 = 0")

WAVE18 = [
    ("listagg_basic",
     "SELECT o_orderstatus, listagg(o_orderpriority, ',') "
     "WITHIN GROUP (ORDER BY o_orderkey) AS lst "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, string_agg(o_orderpriority, ',' "
     "ORDER BY o_orderkey) AS lst "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    ("listagg_overflow_error_multikey",
     # ON OVERFLOW ERROR is Trino's default and unreachable on Spark
     # (no string cap) — stripped; multi-key ORDER BY; value itself is
     # the final deterministic tie-break on both sides.
     "SELECT listagg(o_orderpriority, ';' ON OVERFLOW ERROR) "
     "WITHIN GROUP (ORDER BY o_orderdate, o_orderkey) AS l "
     "FROM orders WHERE o_orderkey < 200",
     "SELECT string_agg(o_orderpriority, ';' "
     "ORDER BY o_orderdate, o_orderkey) AS l "
     "FROM orders WHERE o_orderkey < 200"),
    ("luhn_literal",
     "SELECT luhn_check('79927398713') AS t, luhn_check('79927398714') "
     "AS f, luhn_check('0') AS z",
     "SELECT true AS t, false AS f, true AS z"),
    ("luhn_column",
     "SELECT o_orderkey, luhn_check(CAST(o_orderkey AS VARCHAR)) AS ok "
     "FROM orders ORDER BY o_orderkey LIMIT 500",
     "SELECT o_orderkey, " + _DUCK_LUHN.replace(
         "{S}", "CAST(o_orderkey AS VARCHAR)")
     + " AS ok FROM orders ORDER BY o_orderkey LIMIT 500"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE18,
                         ids=[c[0] for c in WAVE18])
def test_trino_wave18(spark, sf_dir, oracle, name, trino, duck):
    """Dialect wave 18 (r8): LISTAGG … WITHIN GROUP (sorted
    collect_list struct fold, NULL values dropped, deterministic
    value tie-break) and luhn_check (codegen mod-10 fold)."""
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave18:{name}")


def test_trino_wave18_named_errors(spark, sf_dir, oracle):
    for sql, pat in [
        ("SELECT listagg(o_orderpriority, ',') FROM orders",
         "WITHIN GROUP"),
        ("SELECT listagg(o_orderpriority) WITHIN GROUP (GROUP BY 1) "
         "FROM orders", "ORDER BY"),
        ("SELECT listagg(o_orderpriority, ',' ON OVERFLOW TRUNCATE "
         "o_comment) WITHIN GROUP (ORDER BY o_orderkey) FROM orders",
         "filler must be a string literal"),
    ]:
        with pytest.raises(TrinoSqlUnsupported, match=pat):
            execute_trino(spark, sql, sf_dir)
    # listagg DESC / NULLS placement (r9, formerly refused): Trino
    # sorts NULL keys as LARGEST (last ASC, first DESC) — the
    # comparator-lambda sort reproduces it; DuckDB string_agg agrees.
    df = execute_trino(
        spark, "SELECT listagg(v, '|') WITHIN GROUP "
        "(ORDER BY k DESC NULLS LAST, v) AS s FROM (VALUES (1, 'a'), "
        "(CAST(NULL AS INTEGER), 'n'), (2, 'b'), (1, 'c')) AS t(k, v)",
        sf_dir)
    check_query(df, oracle, "SELECT 'b|a|c|n' AS s",
                name="listagg_desc_nulls")
    # Trino raises on non-digit luhn input; so do we — at runtime,
    # with the function named in the error.
    with pytest.raises(Exception, match="luhn_check"):
        execute_trino(spark, "SELECT luhn_check('12a4') AS x",
                      sf_dir).collect()


def test_listagg_overflow_truncate(spark, sf_dir, oracle, monkeypatch):
    """ON OVERFLOW TRUNCATE (r9): the byte-budget fold, exercised by
    shrinking the module cap. Values sorted ASC are aa,bbb,c; budget 6
    admits 'aa' (2) and ',bbb' (+4 = 6) but not ',c' → 2 entries kept,
    1 omitted. Greedy-prefix semantics: the shorter 'c' cannot bypass
    the stop latch. Default filler '...', default WITH COUNT."""
    import okera_trino_spark.functions.trino_sql as mod
    src = ("FROM (VALUES ('bbb'), ('aa'), ('c'), "
           "(CAST(NULL AS VARCHAR))) AS t(v)")
    monkeypatch.setattr(mod, "_LISTAGG_MAX_BYTES", 6)
    cases = [
        ("listagg(v, ',' ON OVERFLOW TRUNCATE)", "'aa,bbb,...(1)'"),
        ("listagg(v, ',' ON OVERFLOW TRUNCATE WITHOUT COUNT)",
         "'aa,bbb,...'"),
        ("listagg(v, ',' ON OVERFLOW TRUNCATE '#' WITH COUNT)",
         "'aa,bbb,#(1)'"),
    ]
    for agg, want in cases:
        df = execute_trino(
            spark, f"SELECT {agg} WITHIN GROUP (ORDER BY v) AS s {src}",
            sf_dir)
        check_query(df, oracle, f"SELECT {want} AS s", name="la_trunc")
    # under-budget → the full join, the clause is a no-op
    monkeypatch.setattr(mod, "_LISTAGG_MAX_BYTES", 1000)
    df = execute_trino(
        spark, "SELECT listagg(v, ',' ON OVERFLOW TRUNCATE) "
        f"WITHIN GROUP (ORDER BY v) AS s {src}", sf_dir)
    check_query(df, oracle, "SELECT 'aa,bbb,c' AS s", name="la_notrunc")
    # first entry alone over budget → k = 0: no leading separator,
    # every non-null value counts as omitted
    monkeypatch.setattr(mod, "_LISTAGG_MAX_BYTES", 1)
    df = execute_trino(
        spark, "SELECT listagg(v, ',' ON OVERFLOW TRUNCATE) "
        f"WITHIN GROUP (ORDER BY v) AS s {src}", sf_dir)
    check_query(df, oracle, "SELECT '...(3)' AS s", name="la_trunc0")


# -------------------------------------------- wave 19: sample-moment
# statistics. Trino's skewness/kurtosis are the SAMPLE-adjusted
# (bias-corrected) statistics; Spark's same-named aggregates are the
# POPULATION formulas — passing them through was a silent value
# divergence on every finite group. DuckDB natively computes the
# Trino convention, so the oracle is direct.
WAVE19 = [
    ("sample_moments_grouped",
     "SELECT o_orderstatus, round(skewness(o_totalprice), 6) AS sk, "
     "round(kurtosis(o_totalprice), 6) AS ku, "
     "round(geometric_mean(o_totalprice), 4) AS gm "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, round(skewness(o_totalprice), 6) AS sk, "
     "round(kurtosis(o_totalprice), 6) AS ku, "
     "round(geomean(o_totalprice), 4) AS gm "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    ("sample_moments_degenerate",
     # n below the defined minimum and constant groups → NULL, the
     # convention both engines share.
     "SELECT skewness(x) AS s2, kurtosis(x) AS k2 "
     "FROM (VALUES 1.0, 2.0) AS t(x)",
     "SELECT skewness(x) AS s2, kurtosis(x) AS k2 "
     "FROM (VALUES (1.0), (2.0)) AS t(x)"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE19,
                         ids=[c[0] for c in WAVE19])
def test_trino_wave19(spark, sf_dir, oracle, name, trino, duck):
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave19:{name}")


# -------------------------------------------- wave 20: entropy over
# count distributions, top-n max_by/min_by, checksum refusal.
WAVE20 = [
    ("entropy_counts",
     # log-2 entropy of the per-status priority-count distribution —
     # replayed in DuckDB as log2(S) - Σ(c·log2 c)/S over the same
     # grouped counts.
     "SELECT o_orderstatus, round(entropy(c), 9) AS h FROM ("
     "SELECT o_orderstatus, count(*) AS c FROM orders "
     "GROUP BY o_orderstatus, o_orderpriority) "
     "GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, round(log2(s) - sl / s, 9) AS h FROM ("
     "SELECT o_orderstatus, CAST(sum(c) AS DOUBLE) AS s, "
     "sum(c * log2(c)) AS sl FROM ("
     "SELECT o_orderstatus, count(*) AS c FROM orders "
     "GROUP BY o_orderstatus, o_orderpriority) GROUP BY o_orderstatus) "
     "ORDER BY o_orderstatus"),
    ("n_by_top",
     # unique keys (o_orderkey) so the two engines' tie conventions
     # cannot differ; DuckDB's 3-arg max_by/min_by are native.
     "SELECT o_orderstatus, max_by(o_orderkey, o_totalprice * 1000 + "
     "o_orderkey, 3) AS top3, min_by(o_orderkey, o_totalprice * 1000 + "
     "o_orderkey, 3) AS bot3 FROM orders "
     "GROUP BY o_orderstatus ORDER BY o_orderstatus",
     "SELECT o_orderstatus, list_slice(list(o_orderkey "
     "ORDER BY o_totalprice * 1000 + o_orderkey DESC), 1, 3) AS top3, "
     "list_slice(list(o_orderkey "
     "ORDER BY o_totalprice * 1000 + o_orderkey), 1, 3) AS bot3 "
     "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
]


@pytest.mark.parametrize("name,trino,duck", WAVE20,
                         ids=[c[0] for c in WAVE20])
def test_trino_wave20(spark, sf_dir, oracle, name, trino, duck):
    """Dialect wave 20 (r8): entropy (one-pass log2 count-distribution
    fold), 3-arg max_by/min_by (sorted collect_list, NULL keys
    dropped, deterministic value tie-break), checksum named error."""
    df = execute_trino(spark, trino, sf_dir)
    check_query(df, oracle, duck, name=f"wave20:{name}")


def test_trino_wave20_named_errors(spark, sf_dir):
    with pytest.raises(TrinoSqlUnsupported, match="checksum"):
        execute_trino(spark, "SELECT checksum(o_orderkey) FROM orders",
                      sf_dir)


def test_trino_wave20_parse_datetime(spark, sf_dir, oracle):
    """parse_datetime with the JODA/Java-shared token subset; zone or
    week tokens raise by name."""
    df = execute_trino(
        spark,
        "SELECT doc_id, parse_datetime('2024-03-0' || CAST(doc_id % 9 + 1 "
        "AS VARCHAR) || ' 10:2' || CAST(doc_id % 10 AS VARCHAR) || ':05', "
        "'yyyy-MM-dd HH:mm:ss') AS ts "
        "FROM documents ORDER BY doc_id LIMIT 200", sf_dir)
    check_query(
        df,
        oracle,
        "SELECT doc_id, strptime('2024-03-0' || CAST(doc_id % 9 + 1 "
        "AS VARCHAR) || ' 10:2' || CAST(doc_id % 10 AS VARCHAR) || ':05', "
        "'%Y-%m-%d %H:%M:%S') AS ts "
        "FROM documents ORDER BY doc_id LIMIT 200",
        name="wave20:parse_datetime")
    with pytest.raises(TrinoSqlUnsupported, match="pattern letters"):
        execute_trino(spark, "SELECT parse_datetime('x', 'yyyy ZZ') AS t",
                      sf_dir)
    with pytest.raises(TrinoSqlUnsupported, match="literal format"):
        execute_trino(spark, "SELECT parse_datetime(text, text) AS t "
                      "FROM documents", sf_dir)


def test_rewrite_contract_never_crashes_property():
    """CONTRACT fuzz: for ANY nesting of dialect fragments — including
    ones with masked literals, keyword arguments, trailing clauses and
    arbitrary embedded strings — the REWRITER either produces a string
    or raises TrinoSqlUnsupported. A bare Python exception
    (IndexError from arg splitting, KeyError from a map, re.error)
    is a rewriter bug regardless of whether the SQL was meaningful."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    leaves = ["n_name", "n_nationkey", "'lit''eral'", "42", "x"]

    def wrap(inner: str, pick: int, n: int, s: str) -> str:
        esc = s.replace("'", "''")
        forms = [
            f"chr({n % 1200})",
            f"chr({inner})",
            f"normalize({inner})",
            f"normalize({inner}, NFKC)",
            f"normalize({inner}, {esc or 'NFX'})",
            f"strpos({inner}, '{esc}', {n % 5 - 2})",
            f"listagg({inner}, ',') WITHIN GROUP (ORDER BY {inner})",
            f"listagg({inner})",
            f"approx_most_frequent({n % 4}, {inner}, 10)",
            f"approx_most_frequent({inner}, {inner}, 10)",
            f"to_base({inner}, 16)",
            f"human_readable_seconds({inner})",
            f"entropy({inner})",
            f"max_by({inner}, {inner}, {n % 4})",
            f"wilson_interval_lower({inner}, 25, 1.96)",
            f"to_iso8601({inner})",
            f"parse_duration('{(n % 9)}m')",
            f"parse_duration({inner})",
            f"date_format({inner}, '%Y-%m')",
            f"date_format({inner}, '%Q')",
            f"TRY({inner} / 0)",
            f"CAST({inner} AS VARCHAR(3))",
            f"json_value({inner}, 'strict $.a[*]')",
            f"regexp_extract_all({inner}, '\\w+{esc}')",
            f"luhn_check({inner})",
            f"skewness({inner})",
            f"concat({inner}, '{esc}')",
            f"parse_datetime({inner}, 'yyyy Z')",
            f"checksum({inner})",
            f"split_part({inner}, '{esc or ','}', {n % 5})",
            f"split_part({inner}, {inner}, 1)",
            f"trim({inner}, '{esc}')",
            f"rtrim({inner})",
            f"element_at({inner}, {n % 7 - 3})",
            f"ln({inner})",
            f"log({inner}, {inner})",
            f"entropy({inner})",
            f"min_by({inner}, {inner}, 2)",
            # r9 surfaces: format_number, SYMMETRIC, computed split
            # delimiters, regexp_position forms, TRUNCATE listagg,
            # jsonpath filters
            f"format_number({inner})",
            f"format_number({inner}, {n % 3})",
            f"(CASE WHEN {inner} BETWEEN SYMMETRIC {inner} AND "
            f"{n % 9} THEN 1 ELSE 0 END)",
            f"split({inner}, {inner})[1]",
            f"split_to_map({inner}, {inner}, '{esc or '='}')['k']",
            f"regexp_position({inner}, '{esc or 'x'}', {n % 5 - 1})",
            f"regexp_position({inner}, 'a', {n % 3 + 1}, {n % 4})",
            f"listagg({inner}, ',' ON OVERFLOW TRUNCATE "
            f"'{esc}' WITHOUT COUNT) WITHIN GROUP (ORDER BY {inner})",
            f"listagg({inner}, ',' ON OVERFLOW TRUNCATE {inner}) "
            f"WITHIN GROUP (ORDER BY {inner})",
            f"json_query({inner}, 'lax $.a[*] ? (@.b >= {n % 50})')",
            f"json_query({inner}, 'lax $.a[*] ? (@.b == \"{esc}\")')",
            # r10 wave-25 surfaces: parens/negation/exists filters,
            # multi-[*], json_value/json_exists
            f"json_query({inner}, 'lax $.a[*] ?((@.b > {n % 9} || "
            f"@.c == \"{esc}\") && !(@.d != 1))')",
            f"json_value({inner}, 'lax $.a[*] ?(@ == {n % 5}) .b')",
            f"json_value({inner}, 'lax $.a[*]?(!exists(@.b))')",
            f"json_exists({inner}, 'lax $.a[*].b[*]')",
            f"json_exists({inner}, 'lax $.a' {esc or 'TRUE'} ON ERROR)",
            f"json_exists({inner}, {inner})",
            # r11 strict-mode surfaces: [last], !/exists filters,
            # method atoms, strict wildcard chains through json_value
            f"json_query({inner}, 'strict $.a[last]')",
            f"json_value({inner}, 'strict $.a[*] ?(!(@.b == {n % 7}))')",
            f"json_exists({inner}, 'strict $.a[*] ?(!exists(@.c))')",
            f"json_query({inner}, 'strict $.a[*] "
            f"?(@.b.size() > {n % 4}).c')",
            f"json_exists({inner}, 'strict $.a[last] ?(@ == {n % 5})')",
            f"quantile_at_value(qdigest_agg({inner}), {n % 9})",
            f"value_at_quantile(tdigest_agg({inner}), 0.{n % 9 + 1})",
            f"approx_set({inner}, 0.0{n % 5 + 1})",
            f"json_query({inner}, 'lax $.a.ceiling()')",
            f"json_query({inner}, 'lax $.a[*].floor()' "
            f"WITH ARRAY WRAPPER)",
            f"json_query({inner}, 'strict $.a.abs()')",
            f"json_query({inner}, 'lax $.a[{n % 3} to {n % 5 + 2}]' "
            f"WITH ARRAY WRAPPER)",
            f"json_exists({inner}, 'strict $.a[{n % 2} to last]')",
            f"json_query({inner}, 'lax $.k[*] "
            f"?(@.x.ceiling() == {n % 9}).x')",
            f"json_exists({inner}, 'strict $.k[*] "
            f"?(!(@.x.abs() > {n % 5}))')",
        ]
        return forms[pick % len(forms)]

    @settings(max_examples=120, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 10_000), st.integers(0, 10_000),
                              st.text(max_size=6)),
                    min_size=1, max_size=3),
           st.sampled_from(leaves))
    def check(ops, leaf):
        expr = leaf
        for pick, n, s in ops:
            expr = wrap(expr, pick, n, s)
        sql = f"SELECT {expr} AS c FROM nation"
        try:
            out = rewrite_trino_sql(sql)
        except TrinoSqlUnsupported:
            return
        assert isinstance(out, str) and out

    check()


def test_rewrite_fuzz_execution_leg(spark, sf_dir):
    """EXECUTION fuzz (r9 — the breadth-class closer): for a sampled
    population of nested dialect fragments, a successful rewrite must
    produce SQL that Spark can at least PARSE — an emitted-text bug
    (unbalanced parens from a synthesized literal, a stray keyword)
    surfaces here at fuzz time instead of in a driver round. Analysis/
    runtime errors are allowed (the fragments are type-nonsense on
    purpose); a ParseException after a non-refusing rewrite is always
    a rewriter bug. Frames that DO execute are additionally run
    through the driver-strict canonicalizability check when every
    output column is scalar — catching uncanonicalizable shapes the
    way the driver would."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.errors import ParseException

    from tests.parity import (assert_driver_canonicalizable,
                              assert_driver_comparable_schema)

    frags = [
        "split_part(n_name, '){0}', 2)",
        "greatest(split_part(n_name, ')', 1), n_name)",
        "least(split_part(n_name, '(', 1), split_to_map('a.1', '|', '.')['a'])",
        "json_query('{{\"a\":[1]}}', 'lax $.a[*]' WITH ARRAY WRAPPER)",
        "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name DESC)",
        "TRY(n_nationkey + 1e-{1})",
        "{1} / {2}",
        "n_nationkey * {1}/{2}",
        "{1}/{2}/(n_nationkey + 1)",
        "entropy(-n_nationkey)",
        "chr(n_nationkey + 65)",
        "split(n_name, '{0}')",
        "concat(n_name, '{0}')",
        "word_stem(lower(n_name))",
        "to_milliseconds(parse_duration(CAST(n_nationkey AS VARCHAR) || 'ms'))",
        "lower(to_hex(murmur3(to_utf8(n_name))))",
        "lower(to_hex(hmac_sha256(to_utf8(n_name), to_utf8('k'))))",
        "CAST(from_base32(to_base32(to_utf8(n_name))) AS VARCHAR)",
        "from_ieee754_64(to_ieee754_64(n_nationkey * 1.5))",
        "cast(cast(split_to_multimap(n_name || '=1', ',', '=') AS JSON) AS VARCHAR)",
        "json_query('{{\"k\":[{{\"v\":{1}}}]}}', "
        "'lax $.k[*] ?(@.v > {1} && @.v < {2} || @.v == 0) .v' "
        "WITH ARRAY WRAPPER)",
        "listagg(DISTINCT n_name, ',') WITHIN GROUP (ORDER BY n_name)",
        "json_value('{{\"k\":[{{\"v\":{1}}},{{\"v\":{2}}}]}}', "
        "'lax $.k[*] ?(@.v >= {2}) .v')",
        "json_exists('{{\"k\":[[{1}],[{2}]]}}', "
        "'lax $.k[*][*] ?(@ == {1})')",
        "json_query('{{\"m\":[[{1}],[{2},3]]}}', "
        "'lax $.m[*][*].type()' WITH ARRAY WRAPPER)",
        "json_value(n_name, "
        "'lax $.a[*] ?(!exists(@.b) || @.c == \"{0}\") .d')",
        "json_query('{{\"k\":{1}}}', 'strict $.k[*]' WITH ARRAY WRAPPER)",
        "json_exists('{{\"k\":[{1}]}}', 'strict $.k[*] ?(@ == {1})')",
        "json_query('{{\"k\":[[{1}],{2}]}}', 'lax $.k[*].double()' "
        "WITH ARRAY WRAPPER)",
        # r11 surfaces: strict !/exists filters, [last], [n to m],
        # numeric item methods (terminal + filter), strict chains
        "json_query('{{\"k\":[{{\"v\":{1}}},{{\"w\":{2}}}]}}', "
        "'strict $.k[*] ?(!exists(@.v)) .w' WITH ARRAY WRAPPER)",
        "json_query('{{\"k\":[{1},{2},3]}}', 'strict $.k[{1} to last]' "
        "WITH ARRAY WRAPPER)",
        "json_query('{{\"k\":[{1},{2},3]}}', 'lax $.k[0 to {1}]' "
        "WITH ARRAY WRAPPER)",
        "json_query('{{\"k\":-{1}.5}}', 'lax $.k.ceiling()')",
        "json_value('{{\"k\":[{{\"x\":{1}.5}}]}}', "
        "'lax $.k[*] ?(@.x.floor() == {1}) .x')",
        "json_exists('{{\"k\":[{{\"x\":{1}}}]}}', "
        "'strict $.k[*] ?(!(@.x.abs() > {2}))')",
        "json_query('{{\"a\":[{{\"b\":{1}}}]}}', 'strict $.a[*].b' "
        "WITH ARRAY WRAPPER)",
    ]

    @settings(max_examples=40, deadline=None)
    @given(st.integers(0, len(frags) - 1), st.integers(0, len(frags) - 1),
           st.text(alphabet="()'\\|.*+,x", max_size=3),
           st.integers(1, 9), st.integers(1, 9))
    def check(i, j, s, n1, n2):
        esc = s.replace("'", "''").replace("{", "{{").replace("}", "}}")
        inner = frags[i].format(esc, n1, n2)
        outer = frags[j].format(esc, n1, n2)
        sql = (f"SELECT {inner} AS a, {outer} AS b "
               "FROM nation ORDER BY n_nationkey LIMIT 2")
        try:
            out = rewrite_trino_sql(sql)
        except TrinoSqlUnsupported:
            return
        try:
            df = spark.sql(out)
        except ParseException as ex:
            raise AssertionError(
                f"rewriter emitted unparseable SQL for {sql!r}:\n{out}"
            ) from ex
        except Exception:
            return   # analysis-level type nonsense — allowed
        try:
            pdf = df.toPandas()
        except Exception:
            return   # runtime errors (ANSI arithmetic etc.) — allowed
        if not any(str(f.dataType).startswith(("ArrayType", "MapType",
                                               "StructType"))
                   for f in df.schema.fields):
            assert_driver_canonicalizable(pdf, name="fuzz-exec")
            # r10: output-dtype contract — scalar frames must also be
            # free of BinaryType (bytes hash != the oracle's hex VARCHAR;
            # the r9 listagg_trunc red). Catches a new dialect surface
            # reintroducing raw-digest outputs at fuzz time.
            assert_driver_comparable_schema(df.schema, name="fuzz-exec")

    spark.sql(f"CREATE OR REPLACE TEMP VIEW nation AS "
              f"SELECT * FROM parquet.`{sf_dir}/nation.parquet`")
    check()


def test_listagg_distinct(spark, sf_dir, oracle):
    """listagg(DISTINCT …) (r10, formerly a named error): dedupe before
    the sorted fold; DESC keys and custom separators compose."""
    df = execute_trino(
        spark,
        "SELECT o_orderstatus, "
        "listagg(DISTINCT o_orderpriority, ',') "
        "WITHIN GROUP (ORDER BY o_orderpriority) AS ps, "
        "listagg(DISTINCT o_orderpriority, '|') "
        "WITHIN GROUP (ORDER BY o_orderpriority DESC) AS ps_desc "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
        sf_dir)
    check_query(
        df, oracle,
        "SELECT o_orderstatus, "
        "string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS ps, "
        "string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority DESC) AS ps_desc "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
        name="listagg_distinct")


def test_listagg_distinct_key_mismatch_named_error(spark, sf_dir):
    """Trino's own rule: DISTINCT aggregations may only ORDER BY
    expressions in the arguments — a different key stays a named error."""
    with pytest.raises(TrinoSqlUnsupported, match="DISTINCT"):
        execute_trino(
            spark, "SELECT listagg(DISTINCT o_orderpriority, ',') "
            "WITHIN GROUP (ORDER BY o_orderkey) FROM orders", sf_dir)


def test_fetch_first_row_only_and_with_ties(spark, sf_dir, oracle):
    """Count-less FETCH FIRST ROW ONLY = LIMIT 1 (Trino grammar);
    WITH TIES over a NON-OUTPUT sort column works via select-list rank
    injection (r9 — Trino resolves sort keys against input columns)."""
    df = execute_trino(
        spark, "SELECT o_orderkey FROM orders ORDER BY o_orderkey "
        "FETCH FIRST ROW ONLY", sf_dir)
    check_query(df, oracle,
                "SELECT min(o_orderkey) AS o_orderkey FROM orders",
                name="fetch_first_row")
    df = execute_trino(
        spark, "SELECT o_orderkey FROM orders ORDER BY o_totalprice "
        "FETCH FIRST 5 ROWS WITH TIES", sf_dir)
    check_query(
        df, oracle,
        "SELECT o_orderkey FROM (SELECT o_orderkey, rank() OVER "
        "(ORDER BY o_totalprice) AS r FROM orders) t WHERE r <= 5",
        name="fetch_ties_hidden_key")


def test_between_symmetric(spark, sf_dir, oracle):
    """BETWEEN SYMMETRIC (r9, formerly refused): bounds swap when
    reversed, NULL bounds stay UNKNOWN (Spark least/greatest skip
    nulls — the rewrite must null-guard), NOT distributes, CASE…END
    and trailing AND don't derail the bound scanner."""
    df = execute_trino(
        spark, "SELECT o_orderkey FROM orders WHERE "
        "o_orderkey BETWEEN SYMMETRIC 10 AND 5 ORDER BY o_orderkey",
        sf_dir)
    check_query(df, oracle,
                "SELECT o_orderkey FROM orders WHERE o_orderkey "
                "BETWEEN 5 AND 10 ORDER BY o_orderkey",
                name="sym_basic")
    df = execute_trino(
        spark, "SELECT x, CAST(x BETWEEN SYMMETRIC CAST(NULL AS "
        "INTEGER) AND 5 AS VARCHAR) AS b, "
        "x NOT BETWEEN SYMMETRIC 9 AND 3 AND x <> 1 AS nb, "
        "x BETWEEN SYMMETRIC CASE WHEN x > 2 AND x < 100 THEN 8 "
        "ELSE 2 END AND 4 AS cb "
        "FROM (VALUES 1, 4, 7) AS t(x) ORDER BY x", sf_dir)
    check_query(
        df, oracle,
        "SELECT x, CAST(NULL AS VARCHAR) AS b, "
        "(x NOT BETWEEN 3 AND 9) AND x <> 1 AS nb, "
        "x BETWEEN least(CASE WHEN x > 2 AND x < 100 THEN 8 ELSE 2 "
        "END, 4) AND greatest(CASE WHEN x > 2 AND x < 100 THEN 8 "
        "ELSE 2 END, 4) AS cb "
        "FROM (VALUES (1), (4), (7)) AS t(x) ORDER BY x",
        name="sym_edges")


def test_unicode_string_literals(spark, sf_dir, oracle):
    """U&'…' literals decode the \\XXXX / \\+XXXXXX escapes to their
    codepoints BEFORE masking — they behave like ordinary literals
    from then on (including the backslash-restore contract)."""
    df = execute_trino(
        spark,
        r"SELECT U&'\0041\00E9 +\+01F600' AS s, U&'q\0027t' AS q, "
        r"U&'back\\slash' AS b", sf_dir)
    rows = df.collect()[0]
    assert rows.s == "Aé +\U0001F600"
    assert rows.q == "q't"
    assert rows.b == "back\\slash"
    with pytest.raises(TrinoSqlUnsupported, match="UESCAPE"):
        execute_trino(spark, "SELECT U&'#0041' UESCAPE '#' AS s", sf_dir)
    with pytest.raises(TrinoSqlUnsupported, match="malformed"):
        execute_trino(spark, r"SELECT U&'\00ZZ' AS s", sf_dir)


def test_trim_family_argument_order(spark, sf_dir, oracle):
    """Trino's 2-arg trim/ltrim/rtrim take (string, chars); Spark's
    same-named 2-arg forms take (trimStr, string) — REVERSED. The
    rewrite lowers to TRIM(BOTH/LEADING/TRAILING … FROM …), identical
    in both engines; 1-arg and standard-FROM forms pass through."""
    df = execute_trino(
        spark,
        "SELECT doc_id, trim(text, 'aeT ') AS t, ltrim(text, 'aeT ') AS l, "
        "rtrim(text, 'aeT .') AS r, trim('  p  ') AS p, "
        "TRIM(LEADING 'x' FROM 'xax') AS std "
        "FROM documents ORDER BY doc_id LIMIT 200", sf_dir)
    check_query(
        df, oracle,
        "SELECT doc_id, trim(text, 'aeT ') AS t, ltrim(text, 'aeT ') AS l, "
        "rtrim(text, 'aeT .') AS r, trim('  p  ') AS p, 'ax' AS std "
        "FROM documents ORDER BY doc_id LIMIT 200",
        name="trim_family")


def test_split_part_and_element_at_edges(spark, sf_dir, oracle):
    """Trino returns NULL past split_part's last field (Spark's builtin
    returns '') and NULL for an over-length element_at index (Spark
    ANSI raises) — both now lowered to try_element_at forms. Genuinely
    empty mid-fields stay ''."""
    df = execute_trino(
        spark,
        "SELECT doc_id, split_part(text, ' ', 3) AS w3, "
        "split_part(text, ' ', 9999) AS past, "
        "split_part('a,,b', ',', 2) AS empty_mid, "
        "element_at(ARRAY[doc_id, doc_id + 1], 5) AS oob "
        "FROM documents ORDER BY doc_id LIMIT 200", sf_dir)
    check_query(
        df, oracle,
        "SELECT doc_id, "
        "CASE WHEN len(str_split(text, ' ')) >= 3 "
        "THEN str_split(text, ' ')[3] END AS w3, "
        "CAST(NULL AS VARCHAR) AS past, '' AS empty_mid, "
        "CAST(NULL AS BIGINT) AS oob "
        "FROM documents ORDER BY doc_id LIMIT 200",
        name="split_part_edges")
    # computed delimiter (r9, formerly refused): native literal
    # split_part with a parts-count guard for Trino's NULL-past-end
    df = execute_trino(
        spark,
        "SELECT s, split_part(s, d, 2) AS p2, split_part(s, d, 9) AS "
        "past, split_part('a,,b', substring(',x', 1, 1), 2) AS mid "
        "FROM (VALUES ('a.b.c', '.'), ('x||y||', '||')) AS t(s, d) "
        "ORDER BY s", sf_dir)
    check_query(
        df, oracle,
        "SELECT * FROM (VALUES ('a.b.c', 'b', CAST(NULL AS VARCHAR), "
        "''), ('x||y||', 'y', CAST(NULL AS VARCHAR), '')) "
        "AS t(s, p2, past, mid) ORDER BY s",
        name="split_part_computed")
    with pytest.raises(Exception, match="delimiter must not be empty"):
        execute_trino(spark, "SELECT split_part('abc', "
                      "substring('x', 2), 1) AS x", sf_dir).collect()


def test_log_family_ieee_edges(spark, sf_dir, oracle):
    """Trino's log family follows Java Math.log (ln(0) = -Infinity,
    ln(negative) = NaN); Spark returns NULL for non-positive input —
    the wrapper restores the IEEE values, NULL stays NULL."""
    df = execute_trino(
        spark,
        "SELECT ln(0.0) AS l0, ln(-2.0) AS lneg, round(ln(2.0), 9) AS lp, "
        "log2(0.0) AS g0, round(log10(100.0), 9) AS g2, "
        "ln(CAST(NULL AS DOUBLE)) AS lnull", sf_dir)
    check_query(
        df, oracle,
        "SELECT CAST('-Infinity' AS DOUBLE) AS l0, "
        "CAST('NaN' AS DOUBLE) AS lneg, round(ln(2.0), 9) AS lp, "
        "CAST('-Infinity' AS DOUBLE) AS g0, 2.0 AS g2, "
        "CAST(NULL AS DOUBLE) AS lnull",
        name="log_family_edges")


def test_log_two_arg_base(spark, sf_dir, oracle):
    """Trino's log(b, x) = Math.log(x)/Math.log(b); the lowering routes
    both operands through the IEEE-wrapped ln."""
    df = execute_trino(
        spark, "SELECT round(log(2.0, 8.0), 9) AS l8, "
        "log(10.0, 0.0) AS l0, log(2.0, -4.0) AS lneg", sf_dir)
    check_query(
        df, oracle,
        "SELECT 3.0 AS l8, CAST('-Infinity' AS DOUBLE) AS l0, "
        "CAST('NaN' AS DOUBLE) AS lneg", name="log_two_arg")


def test_subscript_strict_vs_element_at_relaxed(spark, sf_dir):
    """Trino's SUBSCRIPT errors out of bounds while the element_at
    FUNCTION returns NULL — the strictness marker keeps them apart
    (and TRY over a subscript still relaxes to NULL)."""
    row = execute_trino(
        spark, "SELECT element_at(ARRAY[1,2], 5) AS e, "
        "TRY(ARRAY[1,2][5]) AS t, ARRAY[1,2][2] AS ok", sf_dir).collect()[0]
    assert row.e is None and row.t is None and row.ok == 2
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        execute_trino(spark, "SELECT ARRAY[1,2][5] AS boom",
                      sf_dir).collect()


def test_array_extremes_and_map_concat_conventions(spark, sf_dir, oracle):
    """Trino's array_min/max return NULL when the array CONTAINS a
    null (Spark skips nulls); map_concat keeps the LAST map's value
    for a duplicate key (Spark's default dedup policy errors). Both
    rendered as ordered entry strings / scalars for the cross-engine
    compare."""
    df = execute_trino(
        spark,
        "SELECT doc_id, array_min(ARRAY[n_chars, doc_id, NULL]) AS mn_null, "
        "array_min(ARRAY[n_chars, doc_id]) AS mn, "
        "array_max(ARRAY[n_chars, doc_id]) AS mx, "
        "array_join(array_sort(transform(map_entries(map_concat("
        "MAP(ARRAY['a','b'], ARRAY[doc_id, doc_id + 1]), "
        "MAP(ARRAY['a'], ARRAY[0]))), "
        "e -> concat(e.key, ':', CAST(e.value AS VARCHAR)))), ',') AS mc "
        "FROM documents ORDER BY doc_id LIMIT 200", sf_dir)
    check_query(
        df, oracle,
        "SELECT doc_id, CAST(NULL AS BIGINT) AS mn_null, "
        "least(n_chars, doc_id) AS mn, greatest(n_chars, doc_id) AS mx, "
        "'a:0,b:' || CAST(doc_id + 1 AS VARCHAR) AS mc "
        "FROM documents ORDER BY doc_id LIMIT 200",
        name="array_map_conventions")
