"""View DDL/expansion and UDF surface — SURVEY.md §2.1 C15–C17, §2.2 E37.

The reference stores external views as escaped SQL text in the Okera
catalog (CREATE EXTERNAL VIEW … SKIP_ANALYSIS USING VIEW DATA AS "<sql>",
RecordServiceMetadata.java:288-349) and re-expands them on read
(:392-444). Spark's session catalog stores and re-analyzes view text
natively; the GovernedCatalog view store reproduces the create/drop/
expand lifecycle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from okera_trino_spark.functions.trino_compat import register_reference_udfs
from okera_trino_spark.functions.trino_sql import TrinoSqlUnsupported
from okera_trino_spark.operators._util import r4, t
from okera_trino_spark.registry import query
from okera_trino_spark.session import local_frame
from okera_trino_spark.sources.catalog import GovernedCatalog, register_tables

_VIEW_SQL = """
    SELECT n.n_name, count(*) AS n_customers,
           round(sum(c.c_acctbal), 4) AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query(
    "q_view_expand",
    oracle=f"SELECT n_name, n_customers, total_balance FROM ({_VIEW_SQL}) v WHERE n_customers > 2",
    tags=("view",),
)
def q_view_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 external-view expansion: view SQL stored as text, re-analyzed
    at read, composed under an outer filter. Catalyst inlines the view
    so the filter still reaches the scan."""
    cat = GovernedCatalog(spark, sf_dir)
    cat.create_view("nation_balances", _VIEW_SQL, replace=True)
    return cat.read("nation_balances").filter(F.col("n_customers") > 2)


@query(
    "q_view_create_read",
    oracle="""
    SELECT o_orderstatus, n_orders FROM (
        SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY o_orderstatus
    ) v
    """,
    tags=("view",),
)
def q_view_create_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 CREATE/DROP VIEW lifecycle: create, replace (the reference's
    drop-then-create path, RecordServiceMetadata.java:332-336), read."""
    cat = GovernedCatalog(spark, sf_dir)
    cat.create_view("order_counts", "SELECT 1 AS junk", replace=True)
    cat.create_view(
        "order_counts",
        "SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY o_orderstatus",
        replace=True,
    )
    df = cat.read("order_counts")
    cat.drop_view("order_counts")
    return df


@query("q_udf_current_db", oracle="SELECT 'okera' AS current_db", tags=("udf",))
def q_udf_current_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17 the plugin's sole scalar UDF: current_database() → 'okera'
    (udfs/CurrentDatabaseUdf.java:10-17)."""
    register_reference_udfs(spark)
    return spark.sql("SELECT okera_current_database() AS current_db")


@query(
    "q_udf_custom",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    WHERE l_quantity >= 45
    """,
    tags=("udf",),
)
def q_udf_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 user UDF surface via a vectorized pandas UDF (Arrow batches —
    the only acceptable Python-UDF form in a hot path; ~10-100x the
    row-at-a-time Python UDF). The computation is deliberately
    SQL-expressible so the oracle can check the UDF machinery itself."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def charged_amount(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
        # Unrounded on purpose: the same left-associated IEEE-double
        # product is bit-identical across engines, whereas rounding at a
        # fixed decimal introduces engine-specific boundary flips.
        return price * (1.0 - discount) * (1.0 + tax)

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return li.select(
        "l_orderkey", "l_linenumber",
        charged_amount("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


@query(
    "q_udtf_split",
    oracle="""
    SELECT doc_id,
           unnest(str_split_regex(trim(text), ' +')) AS word,
           generate_subscripts(str_split_regex(trim(text), ' +'), 1) AS ordinality
    FROM documents WHERE doc_id < 10
    """,
    tags=("udf", "udtf"),
)
def q_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 Python UDTF (table function; Spark 3.5+/4.x): one input row →
    many output rows, the user-defined analogue of UNNEST. Registered in
    the session and invoked with LATERAL join syntax, exactly like a
    Trino table function.

    Row-at-a-time Python is the slow path by design here — the engine's
    fast path for this exact computation is q_unnest_ordinality
    (posexplode, JVM codegen); this key verifies the extension surface,
    and the shared oracle proves both paths agree.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, ordinality: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.strip().split()):
                yield w, i + 1

    spark.udtf.register("split_words", SplitWords)
    register_tables(spark, sf_dir, ["documents"])
    return spark.sql("""
        SELECT d.doc_id, s.word, s.ordinality
        FROM documents d, LATERAL split_words(d.text) s
        WHERE d.doc_id < 10
    """)


@query(
    "q_meta_discovery",
    oracle="""
    SELECT * FROM (VALUES
        ('default', 'customer'), ('default', 'events'),
        ('default', 'lineitem'), ('default', 'nation'),
        ('default', 'orders'),   ('default', 'part'),
        ('default', 'region'),   ('default', 'supplier'),
        ('llm', 'documents'),    ('llm', 'embeddings')
    ) AS t(namespace, "tableName")
    """,
    tags=("catalog", "metadata"),
)
def q_meta_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 through the STRING path: ``SHOW TABLES`` answered from the
    governed registry — the discovery statement every Trino client sends
    first (RecordServiceMetadata.java:166-282), with the reference's
    50-table wildcard cap and ``information_schema`` hidden (:84-85,82).
    Deterministic: the fixture registry is fixed, so the oracle is the
    literal expected listing."""
    cat = GovernedCatalog(spark, sf_dir)
    return cat.execute("SHOW TABLES", dialect="trino")


@query(
    "q_meta_catalogs",
    oracle="""
    SELECT item, value FROM (VALUES
        ('catalog', 'okera'),
        ('catalog', 'okera_sampled_100mb'),
        ('catalog', 'okera_sampled_10mb'),
        ('catalog_like', 'okera_sampled_10mb'),
        ('use', 'llm')
    ) AS t(item, value)
    UNION ALL
    SELECT 'bare_count' AS item, CAST(COUNT(*) AS VARCHAR) AS value
    FROM documents
    """,
    tags=("catalog", "metadata"),
)
def q_meta_catalogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 closing the discovery loop (r12): ``SHOW CATALOGS`` answers
    with the three connector flavors the reference plugin registers —
    okera plus the byte-capped sampled variants
    (RecordServicePlugin.java:61-67) — with Trino's LIKE filtering, and
    ``USE llm`` sets the session schema that subsequent BARE table
    names resolve against first (the reference resolves names against
    the session schema, then the catalog tree): after USE, unqualified
    ``documents`` reads llm.documents through the governed path. The
    catalog listing and USE echo are fixed literals; the bare-name
    count is replayed by the oracle on the same table, so the key is
    hash-checkable at every SF."""
    cat = GovernedCatalog(spark, sf_dir)
    cats = cat.execute("SHOW CATALOGS", dialect="trino").selectExpr(
        "'catalog' AS item", "catalog AS value")
    like = cat.execute("SHOW CATALOGS LIKE '%10mb'", dialect="trino"
                       ).selectExpr("'catalog_like' AS item",
                                    "catalog AS value")
    use = cat.execute("USE llm", dialect="trino").selectExpr(
        "'use' AS item", "current_schema AS value")
    cnt = cat.execute(
        "SELECT 'bare_count' AS item, CAST(count(*) AS VARCHAR) AS value "
        "FROM documents", dialect="trino")
    return cats.union(like).union(use).union(cnt)


@query(
    "q_trino_explain_validate",
    oracle="""
    SELECT item, value FROM (VALUES
        ('validate_ok', 'true'),
        ('validate_hidden_column', 'analysis_error'),
        ('validate_unknown_table', 'analysis_error'),
        ('io_columns', 'n_name,n_nationkey,n_regionkey'),
        ('io_pushed_filter_count', '3')
    ) AS t(item, value)
    """,
    tags=("trino", "explain", "metadata"),
)
def q_trino_explain_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 with driver-visible evidence (r12): the EXPLAIN statement
    family through the GOVERNED path, checked on its deterministic
    surfaces. ``EXPLAIN (TYPE VALIDATE)`` analyzes without executing
    and returns the ``Valid`` row; a column the caller's policy HIDES
    fails analysis exactly like an unknown name (EXPLAIN can never
    leak a refused column — the governed path registers policy-scoped
    views before planning), as does an unknown table. ``EXPLAIN (TYPE
    IO, FORMAT JSON)`` exposes the scan decision Catalyst actually
    made: the pruned ReadSchema column set and the number of filters
    pushed to the nation scan (IsNotNull + two range bounds for the
    BETWEEN) — asserting pushdown happened, not just that a plan
    printed. All five rows are deterministic literals; the plan TEXT
    renderings (LOGICAL/DISTRIBUTED) stay pytest-checked
    (tests/test_trino_explain.py) because their strings are
    Spark-version artifacts, not engine semantics."""
    import json

    from okera_trino_spark.sources.catalog import TablePolicy

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("intern", "nation",
                   TablePolicy(allowed_columns=["n_name"]))
    rows = []
    ok = cat.execute("EXPLAIN (TYPE VALIDATE) SELECT n_name FROM nation",
                     dialect="trino").collect()[0]
    rows.append(("validate_ok", str(bool(ok.Valid)).lower()))
    for item, sql, user in (
            ("validate_hidden_column",
             "EXPLAIN (TYPE VALIDATE) SELECT n_nationkey FROM nation",
             "intern"),
            ("validate_unknown_table",
             "EXPLAIN (TYPE VALIDATE) SELECT 1 FROM no_such_table",
             None)):
        try:
            cat.execute(sql, user=user, dialect="trino")
            rows.append((item, "unexpectedly_valid"))
        except (AnalysisException, TrinoSqlUnsupported):
            # Only ANALYSIS failures count as the expected refusal —
            # a wiring/Py4J bug must surface as a red key, not green
            # as a "correct" denial (r12 ADVICE).
            rows.append((item, "analysis_error"))
    io = cat.execute(
        "EXPLAIN (TYPE IO, FORMAT JSON) SELECT n_name, n_regionkey "
        "FROM nation WHERE n_nationkey BETWEEN 5 AND 20",
        dialect="trino").collect()[0]
    info = json.loads(io[0])["inputTableColumnInfos"][0]
    rows.append(("io_columns", ",".join(sorted(info["columns"]))))
    rows.append(("io_pushed_filter_count",
                 str(len(info["pushedFilters"]))))
    return local_frame(spark, rows, "item string, value string")


@query(
    "q_meta_stats",
    oracle="""
    SELECT 'admin_columns' AS item,
           'c_acctbal,c_custkey,c_mktsegment,c_name,c_nationkey' AS value
    UNION ALL
    SELECT 'intern_columns', 'c_custkey,c_mktsegment'
    UNION ALL
    SELECT 'admin_row_count', CAST(count(*) AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'null_count_c_name',
           CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
                AS VARCHAR) FROM customer
    UNION ALL
    SELECT 'nulls_fraction_consistent', 'true'
    UNION ALL
    SELECT 'filtered_row_count', 'hidden'
    UNION ALL
    SELECT 'data_size_positive', 'true'
    """,
    tags=("catalog", "metadata", "stats", "trino"),
)
def q_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 with driver-visible evidence (r13, per the r12 verdict): the
    SHOW STATS surface through the governed path, checked on its
    deterministic facets. The stats are METADATA-ONLY (parquet footer
    via pyarrow — a stats call must never scan 100 TB;
    RecordServiceMetadata.java:504-537 populates the same
    TableStatistics from the planner) and POLICY-SCOPED: a column-authz
    user sees only their columns' rows; a row-filtered user gets a NULL
    row count (exact cardinality would disclose how many rows the
    filter hides). Cross-engine facets: the row count and the
    footer-derived null count are replayed by DuckDB against the DATA
    (count(*) / sum(IS NULL)) — footer stats must agree with a scan —
    while the policy facets are deterministic literals in the
    q_trino_explain_validate pattern. data_size stays engine-side only
    (uncompressed byte sizes are a parquet-writer artifact DuckDB
    cannot replay) — asserted positive, not equal."""
    from okera_trino_spark.sources.catalog import TablePolicy

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("intern", "customer",
                   TablePolicy(allowed_columns=["c_custkey",
                                                "c_mktsegment"]))
    cat.set_policy("analyst", "customer",
                   TablePolicy(row_filter="c_acctbal > 0"))

    def stats_rows(user):
        return cat.execute("SHOW STATS FOR customer", user=user,
                           dialect="trino").collect()

    admin, intern, filtered = (stats_rows(u)
                               for u in (None, "intern", "analyst"))
    col_rows = [r for r in admin if r.column_name is not None]
    summary = next(r for r in admin if r.column_name is None)
    f_summary = next(r for r in filtered if r.column_name is None)
    # Null count from the EXACT footer counter (table_stats — the same
    # C13 surface SHOW STATS derives its fraction from): reconstructing
    # it as round(nulls_fraction * row_count) is lossy once the
    # fraction's 6dp rounding meets >1M rows, and NULLable once a chunk
    # lacks statistics (r13 review finding). The SHOW STATS projection
    # itself stays checked: its nulls_fraction must agree with the
    # exact counter to within its own 6dp rounding — otherwise a broken
    # fraction formula would green behind the exact value (second r13
    # review finding).
    nc = cat.table_stats("customer")["columns"]["c_name"]["null_count"]
    name_row = next(r for r in col_rows if r.column_name == "c_name")
    rc = summary.row_count
    nf_ok = ((nc is None and name_row.nulls_fraction is None)
             or (nc is not None and name_row.nulls_fraction is not None
                 and rc and abs(name_row.nulls_fraction - nc / rc)
                 <= 5e-7))
    rows = [
        ("admin_columns",
         ",".join(sorted(r.column_name for r in col_rows))),
        ("intern_columns",
         ",".join(sorted(r.column_name for r in intern
                         if r.column_name is not None))),
        ("admin_row_count", str(int(summary.row_count))),
        ("null_count_c_name",
         "unknown" if nc is None else str(int(nc))),
        ("nulls_fraction_consistent", str(bool(nf_ok)).lower()),
        ("filtered_row_count",
         "hidden" if f_summary.row_count is None else "leaked"),
        ("data_size_positive",
         str(all(r.data_size is not None and r.data_size > 0
                 for r in col_rows)).lower()),
    ]
    return local_frame(spark, rows, "item string, value string")


@query(
    "q_meta_security",
    oracle="""
    SELECT 'auth_password_ok' AS item, 'alice' AS value
    UNION ALL SELECT 'auth_password_reject', 'rejected'
    UNION ALL SELECT 'auth_token_subject_mismatch', 'rejected'
    UNION ALL SELECT 'auth_token_mode', 'bearer'
    UNION ALL SELECT 'auth_cache_single_verify', '1'
    UNION ALL
    SELECT 'delegated_rows_as_target', CAST(count(*) AS VARCHAR)
    FROM nation WHERE n_regionkey = 0
    UNION ALL SELECT 'delegation_denied', 'rejected'
    UNION ALL SELECT 'audit_trail',
        'alice:true,bob:false,root:false'
    UNION ALL SELECT 'audit_failures_carry_errors', 'true'
    """,
    tags=("catalog", "auth", "audit", "metadata"),
)
def q_meta_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18/C19/C20 with driver-visible evidence (r13): the security
    surfaces' deterministic facets, in the q_trino_explain_validate
    pattern. C19 (password/token auth, sources/auth.py —
    OkeraAuthenticator.java semantics): disabled-mode user==password
    accept/reject; Bearer dispatch for JWT-shaped secrets with the
    token-subject-must-match-session-user rule; the success cache
    verifying once for repeated credentials. C20
    (delegation/impersonation): an ALLOWED delegate's read is governed
    by the TARGET's policies — the row count under alice's row filter
    is replayed by DuckDB against the data (cross-engine, any sf) —
    and an unallowed delegation is refused. C18 (audit,
    RecordServiceUtil.java:494-503 / OkeraEventListener.java field
    set): the catalog's per-instance audit log records the delegated
    query under the EFFECTIVE identity (alice, not svc), records the
    DENIED delegation attempt (bob, success=false — failed access must
    not be invisible), records the analysis failure (root), in
    query-id order, with every failure carrying an error message."""
    from okera_trino_spark.sources.auth import (
        AuthenticationError,
        PasswordAuthenticator,
    )
    from okera_trino_spark.sources.catalog import TablePolicy

    rows = []
    auth = PasswordAuthenticator()  # disabled mode: user == password
    rows.append(("auth_password_ok", auth.authenticate("alice", "alice")))
    try:
        auth.authenticate("alice", "wrong")
        rows.append(("auth_password_reject", "accepted"))
    except AuthenticationError:
        rows.append(("auth_password_reject", "rejected"))

    modes = []

    def subject_bob(req):
        modes.append(req.mode)
        return "bob"  # token subject differs from the session user

    jwt_shaped = "eyJhbGciOiJI.eyJzdWIiOiJib2IifQ.c2lnbmF0dXJlMDEyMzQ1"
    try:
        PasswordAuthenticator(verifier=subject_bob).authenticate(
            "alice", jwt_shaped)
        rows.append(("auth_token_subject_mismatch", "accepted"))
    except AuthenticationError:
        rows.append(("auth_token_subject_mismatch", "rejected"))
    rows.append(("auth_token_mode", modes[0]))

    verify_calls = []

    def count_verify(req):
        verify_calls.append(1)
        return "carol"

    cached = PasswordAuthenticator(verifier=count_verify)
    cached.authenticate("carol", "s3cret")
    cached.authenticate("carol", "s3cret")
    rows.append(("auth_cache_single_verify", str(len(verify_calls))))

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("alice", "nation",
                   TablePolicy(row_filter="n_regionkey = 0"))
    cat.allow_delegation("svc", "alice")
    n = cat.execute("SELECT count(*) AS c FROM nation",
                    user="svc", on_behalf_of="alice").collect()[0].c
    rows.append(("delegated_rows_as_target", str(int(n))))
    try:
        cat.execute("SELECT 1 AS x", user="bob", on_behalf_of="alice")
        rows.append(("delegation_denied", "accepted"))
    except PermissionError:
        rows.append(("delegation_denied", "rejected"))
    try:
        cat.execute("SELECT no_such_col FROM nation")
    except AnalysisException:
        pass
    log = cat.audit_log
    rows.append(("audit_trail",
                 ",".join(f"{r.user}:{str(r.success).lower()}"
                          for r in log)))
    rows.append(("audit_failures_carry_errors",
                 str(all(bool(r.error) for r in log
                         if not r.success)).lower()))
    return local_frame(spark, rows, "item string, value string")


@query(
    "q_trino_info_schema",
    oracle="""
    SELECT table_name, column_name,
           CAST(ordinal_position AS INT) AS ordinal_position,
           CASE data_type
               WHEN 'BIGINT' THEN 'bigint'
               WHEN 'INTEGER' THEN 'integer'
               WHEN 'DOUBLE' THEN 'double'
               WHEN 'VARCHAR' THEN 'varchar'
               WHEN 'TIMESTAMP' THEN 'timestamp(3)'
               WHEN 'FLOAT[]' THEN 'array(real)'
           END AS data_type,
           is_nullable
    FROM information_schema.columns
    WHERE table_schema = 'main'
    ORDER BY table_name, ordinal_position
    """,
    tags=("catalog", "metadata", "trino"),
)
def q_trino_info_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12/C14 depth: ``information_schema.columns`` through the
    governed SQL path — the introspection surface BI tools use. Trino
    serves information_schema for every catalog by driving the
    connector's metadata SPI (the listSchemaNames/listTables/
    getTableMetadata calls behind SHOW, RecordServiceMetadata.java:
    166-282); the schema is hidden from LISTINGS (:82) but queryable,
    so the governed path synthesizes it from the registry with
    policy-scoped columns and Trino-rendered types
    (sources/types.py spark_type_to_trino).

    The oracle is DuckDB's OWN information_schema over the same
    fixture views, its type names mapped to the Trino renderings — a
    genuine cross-engine metadata check, not a literal listing."""
    cat = GovernedCatalog(spark, sf_dir)
    return cat.execute(
        "SELECT table_name, column_name, ordinal_position, data_type, "
        "is_nullable FROM information_schema.columns "
        "ORDER BY table_name, ordinal_position", dialect="trino")


@query(
    "q_meta_dpp",
    oracle="""
    WITH n AS (
        SELECT CAST(count(*) AS VARCHAR) AS v FROM orders
        WHERE date_part('year', o_orderdate) = 1995
    )
    SELECT 'partition_filter_planned' AS item, 'true' AS value
    UNION ALL SELECT 'partition_pruned_rows', v FROM n
    UNION ALL SELECT 'dpp_planned', 'true'
    UNION ALL SELECT 'dpp_rows', v FROM n
    UNION ALL SELECT 'splits_multi', 'true'
    """,
    tags=("metadata", "scan", "pushdown"),
)
def q_meta_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.1 partition pruning — static AND dynamic — with driver-visible
    evidence (r13 verdict #8; previously pytest-only in
    tests/test_partitioned.py). Writes a partitioned copy of orders
    (by order year) plus a tiny on-disk year dimension into a temp dir
    — a real multi-directory, multi-file layout the single-file
    fixtures never give — and pins three scan contracts WITH their
    row-level consequences:

      - static pruning: a filter on the partition column must plan a
        ``PartitionFilters`` entry (directory pruning, other years'
        files never open), and the pruned scan's row count is replayed
        by DuckDB against the unpartitioned table;
      - DYNAMIC partition pruning: a selective filter on the year
        dimension must reach the FACT scan as a
        ``dynamicpruningexpression`` (the 100-TB star-join contract —
        only matching directories are read, decided at runtime from
        the broadcast dim), and the join's row count equals the static
        count;
      - split planning: the multi-file layout plans > 1 input split.

    Plan facts are emitted as the literal the plan actually shows
    ('false' when absent), so a pruning regression is a hash-RED key,
    not a silently-weaker plan. Reference gesture:
    RecordServiceSplitManagerImpl.java:238 RECEIVES Trino's dynamic
    filter and ignores it; Spark's DPP implements the optimization —
    this key is the CORRECTNESS row behind the §4.1 built-in claim."""
    import shutil
    import tempfile

    from okera_trino_spark.plans import plan_string

    base = tempfile.mkdtemp(prefix="okera_dpp_")
    try:
        fact_path = f"{base}/orders_by_year"
        dim_path = f"{base}/year_dim"
        (t(spark, sf_dir, "orders")
         .withColumn("o_year", F.year("o_orderdate"))
         .write.partitionBy("o_year").mode("overwrite").parquet(fact_path))
        years = [(y, "hot" if y == 1995 else "cold")
                 for y in range(1992, 1999)]
        (spark.createDataFrame(years, "o_year int, temperature string")
         .coalesce(1).write.mode("overwrite").parquet(dim_path))

        pruned = (spark.read.parquet(fact_path)
                  .filter(F.col("o_year") == 1995))
        pf_lines = [ln for ln in plan_string(pruned, "formatted").splitlines()
                    if "PartitionFilters" in ln]
        part_filter = bool(pf_lines) and "o_year" in pf_lines[0] \
            and "1995" in pf_lines[0]
        fact = spark.read.parquet(fact_path)
        dim = (spark.read.parquet(dim_path)
               .filter(F.col("temperature") == "hot"))
        joined = fact.join(dim, "o_year").select("o_orderkey", "o_year")
        dpp = "dynamicpruning" in plan_string(joined, "formatted").lower()
        rows = [
            ("partition_filter_planned", str(part_filter).lower()),
            ("partition_pruned_rows", str(pruned.count())),
            ("dpp_planned", str(dpp).lower()),
            ("dpp_rows", str(joined.count())),
            ("splits_multi",
             str(fact.rdd.getNumPartitions() > 1).lower()),
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return local_frame(spark, rows, "item string, value string")
