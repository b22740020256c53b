"""GovernedCatalog unit tests — the custom layer SURVEY.md §5.3 says to
test directly: column-level authorization, row policies, session
properties (limit/sampling), view lifecycle, listings, audit log.
"""

from __future__ import annotations

import pytest

from okera_trino_spark.sources.catalog import (
    MAX_TABLES_LISTED,
    GovernedCatalog,
    TablePolicy,
)


@pytest.fixture()
def cat(spark, sf_dir):
    return GovernedCatalog(spark, sf_dir)


def test_column_authz_drops_columns_silently(cat):
    """RecordServiceMetadata.java:804: unauthorized columns vanish from
    the visible schema — no error."""
    cat.set_policy("alice", "customer", TablePolicy(
        allowed_columns=["c_custkey", "c_name"]))
    df = cat.read("customer", user="alice")
    assert df.columns == ["c_custkey", "c_name"]
    # other users see everything
    assert len(cat.read("customer", user="bob").columns) == 5


def test_row_policy_filters(cat):
    cat.set_policy("alice", "orders", TablePolicy(row_filter="o_orderstatus = 'F'"))
    got = cat.read("orders", user="alice").select("o_orderstatus").distinct().collect()
    assert [r.o_orderstatus for r in got] == ["F"]


def test_row_and_column_policy_compose(cat):
    """Row filter may reference columns the user cannot see — filter
    applies before the column prune (the reference's internal-view
    evaluation order)."""
    cat.set_policy("carol", "orders", TablePolicy(
        allowed_columns=["o_orderkey"], row_filter="o_orderstatus = 'F'"))
    df = cat.read("orders", user="carol")
    assert df.columns == ["o_orderkey"]
    assert df.count() > 0


def test_session_limit_caps_reads(cat):
    cat.props.limit = 7
    assert cat.read("lineitem").count() == 7


def test_sampled_catalog_reads_fraction(spark, sf_dir):
    """okera_sampled_* variants: byte cap → sample fraction. A 10 KB cap
    on the lineitem file must read far fewer rows than the full scan."""
    full = GovernedCatalog(spark, sf_dir).read("lineitem").count()
    sampled = GovernedCatalog(spark, sf_dir, catalog_name="okera_sampled_10kb",
                              sample_bytes=10 * 1024).read("lineitem").count()
    assert 0 < sampled < full


def test_sampled_prefix_catalog_is_byte_exact(spark, sf_dir):
    """C6 byte-exact mode: the cap maps to a DETERMINISTIC row prefix
    from footer row-group arithmetic (the reference's stop-at-N-bytes
    semantics, RecordServiceConfig.java:404-422), planned as a pushed
    limit — unlike the Bernoulli ``fraction`` mode."""
    import pyarrow.parquet as pq

    from okera_trino_spark.sources.catalog import table_path

    cap = 10 * 1024
    cat = GovernedCatalog(spark, sf_dir, catalog_name="okera_sampled_10kb",
                          sample_bytes=cap, sample_mode="prefix")
    n = cat.read("lineitem").count()
    full = GovernedCatalog(spark, sf_dir).read("lineitem").count()
    assert 0 < n < full
    assert cat.read("lineitem").count() == n  # deterministic, not Bernoulli
    assert n == cat._prefix_rows("lineitem", cap)
    # byte-exact: the prefix's pro-rata decoded size lands on the cap
    # (exact at row-group granularity; final group interpolated)
    meta = pq.read_metadata(table_path(sf_dir, "lineitem"))
    total = sum(meta.row_group(i).total_byte_size
                for i in range(meta.num_row_groups))
    est = n / meta.num_rows * total
    rg0 = meta.row_group(0)
    assert abs(est - cap) <= max(rg0.total_byte_size / max(rg0.num_rows, 1), 64)
    # and the plan carries the limit (scan stops early), not a sample op
    plan = cat.read("lineitem")._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan and "Sample" not in plan
    with pytest.raises(ValueError, match="sample_mode"):
        GovernedCatalog(spark, sf_dir, sample_mode="bogus")


def test_sampled_catalog_views_sample_base_tables_once(spark, sf_dir):
    """A view read under a sampled catalog must not crash on the view
    name (no parquet footer exists for it) and must not double-sample:
    the cap applies to the BASE tables through their governed temp
    views; the view output passes through untouched."""
    cat = GovernedCatalog(spark, sf_dir, sample_bytes=10 * 1024)
    cat.create_view("v_li_n", "SELECT count(*) AS n FROM lineitem")
    n = cat.read("v_li_n").collect()[0].n
    full = GovernedCatalog(spark, sf_dir).read("lineitem").count()
    assert 0 < n < full
    cat.drop_view("v_li_n")


def test_view_lifecycle_and_errors(cat):
    cat.create_view("v1", "SELECT r_name FROM region")
    assert "v1" in cat.list_views()
    with pytest.raises(ValueError, match="already exists"):
        cat.create_view("v1", "SELECT 1")
    cat.create_view("v1", "SELECT r_regionkey FROM region", replace=True)
    assert cat.read("v1").columns == ["r_regionkey"]
    cat.drop_view("v1")
    assert cat.list_views() == []
    cat.drop_view("v1", if_exists=True)  # idempotent
    with pytest.raises(ValueError, match="no such view"):
        cat.drop_view("v1", if_exists=False)


def test_listings_capped_and_sorted(cat):
    tables = cat.list_tables()
    assert tables == sorted(tables)
    assert len(tables) <= MAX_TABLES_LISTED
    assert "information_schema" not in cat.list_schemas()


def test_table_stats_surface(cat, spark, sf_dir):
    """C13: row count + byte size + column count + PER-COLUMN data
    sizes/null counts from the footer (the reference's per-column
    ColumnStatistics.dataSize, RecordServiceMetadata.java:504-537)."""
    st = cat.table_stats("nation")
    assert st["row_count"] == 25
    assert st["size_bytes"] > 0
    assert st["n_columns"] == 3
    assert st["stats_mode"] == "okera"
    assert not st["policy_filtered"]
    assert set(st["columns"]) == {"n_nationkey", "n_name", "n_regionkey"}
    for entry in st["columns"].values():
        assert entry["compressed_bytes"] > 0
        assert entry["uncompressed_bytes"] >= entry["compressed_bytes"] // 20
        assert entry["null_count"] == 0  # fixtures have no NULL keys


def test_table_stats_policy_scoped(cat):
    """Stats answer for what the caller may see: hidden columns absent;
    a row-filtered user gets degraded (None) counts — exact full-table
    cardinality must not disclose how many rows the filter hides."""
    cat.set_policy("alice", "nation", TablePolicy(
        allowed_columns=["n_name"], row_filter="n_regionkey = 0"))
    st = cat.table_stats("nation", user="alice")
    assert st["policy_filtered"]
    assert st["row_count"] is None and st["size_bytes"] is None
    assert set(st["columns"]) == {"n_name"} and st["n_columns"] == 1
    assert st["columns"]["n_name"]["compressed_bytes"] is None
    # column-prune WITHOUT a row filter keeps exact sizes, fewer columns
    cat.set_policy("carol2", "nation", TablePolicy(allowed_columns=["n_name"]))
    st2 = cat.table_stats("nation", user="carol2")
    assert not st2["policy_filtered"] and st2["row_count"] == 25
    assert set(st2["columns"]) == {"n_name"}
    assert st2["columns"]["n_name"]["compressed_bytes"] > 0
    # other users unaffected
    assert cat.table_stats("nation", user="bob")["row_count"] == 25


def test_table_stats_rejects_views(cat):
    """A view name must fail with a clean KeyError — not a pyarrow
    FileNotFoundError on a fabricated parquet path."""
    cat.create_view("v_stats", "SELECT n_name FROM nation")
    with pytest.raises(KeyError, match="no such table"):
        cat.table_stats("v_stats")


def test_governed_stamp_is_session_global(spark, sf_dir):
    """Two catalog instances on ONE session: instance B must never skip
    re-registration while instance A's governed views are current — that
    would run B's SQL under A's policies (silent policy bypass)."""
    cat_a = GovernedCatalog(spark, sf_dir)
    cat_b = GovernedCatalog(spark, sf_dir)
    cat_a.set_policy("gsu", "orders", TablePolicy(row_filter="o_orderstatus = 'F'"))
    full = cat_b.execute(
        "SELECT count(DISTINCT o_orderstatus) AS n FROM orders",
        user="gsu").collect()[0].n
    assert full > 1  # cat_b holds no policy for gsu
    filtered = cat_a.execute(
        "SELECT count(DISTINCT o_orderstatus) AS n FROM orders",
        user="gsu").collect()[0].n
    assert filtered == 1
    # cat_b again, same user: its memo key matches its LAST registration,
    # but the session now holds cat_a's views — must re-register.
    again = cat_b.execute(
        "SELECT count(DISTINCT o_orderstatus) AS n FROM orders",
        user="gsu").collect()[0].n
    assert again == full


def test_concurrent_principals_stay_governed(spark, sf_dir):
    """Four principals (row filter, column mask, column allowlist, no
    policy) share one catalog from four threads: every statement returns
    that principal's single-threaded answer — no principal's statement
    resolves another's governed views — and audit query ids stay
    unique."""
    from concurrent.futures import ThreadPoolExecutor

    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("tg_rows", "customer",
                   TablePolicy(row_filter="c_nationkey < 15"))
    cat.set_policy("tg_mask", "customer",
                   TablePolicy(column_masks={"c_name": "hash"}))
    cat.set_policy("tg_cols", "customer", TablePolicy(
        allowed_columns=["c_custkey", "c_name", "c_nationkey"]))
    principals = ["tg_rows", "tg_mask", "tg_cols", "tg_open"]
    statements = [
        "SELECT count(*) AS n FROM customer",
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 20",
        "SELECT count(*) AS n FROM information_schema.columns",
    ]

    def run(user: str, sql: str) -> tuple:
        return tuple(sorted(tuple(r) for r in
                            cat.execute(sql, user=user).collect()))

    expected = {(u, q): run(u, q) for u in principals for q in statements}
    # each statement tells some principals apart
    assert [len({expected[(u, q)] for u in principals})
            for q in statements] == [2, 3, 2]

    def client(j: int) -> list[tuple[str, str, bool]]:
        out = []
        for k in range(15):
            user, sql = principals[(j + k) % 4], statements[(j + k // 4) % 3]
            out.append((user, sql, run(user, sql) == expected[(user, sql)]))
        return out

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = [r for rs in pool.map(client, range(4)) for r in rs]
    wrong = [(u, q) for u, q, ok in results if not ok]
    assert len(results) == 60 and not wrong, wrong
    ids = [r.query_id for r in cat.audit_log]
    assert len(ids) == len(set(ids)) == 72


def test_execute_cannot_resolve_raw_temp_views(spark, sf_dir):
    """Governed SQL resolves only the names the catalog registered: a
    raw temp view on the caller's session is not one of them."""
    from pyspark.errors import AnalysisException

    spark.range(3).createOrReplaceTempView("raw_only_view")
    try:
        assert spark.sql("SELECT * FROM raw_only_view").count() == 3
        with pytest.raises(AnalysisException):
            GovernedCatalog(spark, sf_dir).execute(
                "SELECT * FROM raw_only_view")
    finally:
        spark.catalog.dropTempView("raw_only_view")


def test_listing_caps_at_boundary(cat, monkeypatch):
    """The 100-schema/50-table listing caps (RecordServiceMetadata.java:
    84-85) exercised AT the boundary with a synthetic 120-schema /
    60-table registry — the fixture registry (2 schemas) never reaches
    them."""
    import okera_trino_spark.sources.catalog as catmod

    big = {f"s{i:03d}": [f"t{j:02d}" for j in range(60)] for i in range(120)}
    big["information_schema"] = ["hidden_t"]
    monkeypatch.setattr(catmod, "SCHEMAS", big)
    schemas = cat.list_schemas()
    assert len(schemas) == 100
    assert schemas[0] == "s000" and schemas[-1] == "s099"  # 101st cut
    assert "information_schema" not in schemas
    tables = cat.list_tables("s000")
    assert len(tables) == 50 and tables[-1] == "t49"  # 51st cut
    wildcard = cat.list_tables()
    assert len(wildcard) == 50 and all("." in n for n in wildcard)


def test_multi_db_listing_and_qualified_reads(cat):
    """Real schema namespaces: default (relational) + llm (documents/
    embeddings); information_schema hidden; qualified and bare reads
    resolve to the same plan-producing table."""
    assert cat.list_schemas() == ["default", "llm"]
    assert cat.list_tables("llm") == ["documents", "embeddings"]
    assert cat.list_tables("default") == sorted(
        ["region", "nation", "customer", "supplier", "part",
         "orders", "lineitem", "events"])
    assert cat.list_tables("information_schema") == []
    assert cat.list_tables("no_such_schema") == []
    assert "llm.documents" in cat.list_tables()
    assert cat.read("llm.documents").columns == cat.read("documents").columns
    assert cat.resolve("embeddings") == ("llm", "embeddings")
    with pytest.raises(KeyError):
        cat.read("default.documents")  # documents lives in llm, not default


def test_execute_enforces_policies(cat):
    """The SQL path must apply the same governance as read(): a user
    whose policy hides columns/rows cannot see them via execute()."""
    cat.set_policy("alice", "orders", TablePolicy(
        allowed_columns=["o_orderkey", "o_orderstatus"],
        row_filter="o_orderstatus = 'F'"))
    got = cat.execute(
        "SELECT DISTINCT o_orderstatus FROM orders", user="alice").collect()
    assert [r.o_orderstatus for r in got] == ["F"]
    with pytest.raises(Exception):  # hidden column is absent, not masked
        cat.execute("SELECT o_totalprice FROM orders", user="alice").collect()
    # another user (no policy) sees everything again
    statuses = {r.o_orderstatus for r in cat.execute(
        "SELECT DISTINCT o_orderstatus FROM orders", user="bob").collect()}
    assert len(statuses) > 1


def test_view_expansion_enforces_policies(cat):
    cat.set_policy("alice", "orders", TablePolicy(row_filter="o_orderstatus = 'F'"))
    cat.create_view("v_status", "SELECT DISTINCT o_orderstatus FROM orders")
    rows = cat.read("v_status", user="alice").collect()
    assert [r.o_orderstatus for r in rows] == ["F"]


def test_delegation_gate(cat):
    """RecordServiceUtil.java:494-503: reads on behalf of another
    identity require an explicit delegation grant; the target user's
    policies then apply."""
    cat.set_policy("alice", "customer", TablePolicy(allowed_columns=["c_custkey"]))
    with pytest.raises(PermissionError):
        cat.read("customer", user="svc", on_behalf_of="alice")
    cat.allow_delegation("svc", "alice")
    df = cat.read("customer", user="svc", on_behalf_of="alice")
    assert df.columns == ["c_custkey"]  # alice's policy, not svc's
    assert cat.can_delegate("svc", "alice")
    assert not cat.can_delegate("svc", "bob")
    assert cat.can_delegate("alice", "alice")  # self is always allowed


def test_table_stats_is_metadata_only_and_ttl_cached(cat, monkeypatch):
    """Stats must come from parquet footers (no Spark job) and honor the
    per-user TTL cache (0 = disabled, the reference default)."""
    import okera_trino_spark.sources.catalog as catmod

    # metadata-only: poison load_table — stats must not touch it
    monkeypatch.setattr(catmod, "load_table",
                        lambda *a, **k: (_ for _ in ()).throw(AssertionError(
                            "table_stats ran a scan")))
    st = cat.table_stats("nation")
    assert st["row_count"] == 25
    # TTL disabled by default: every call recomputes (mutating the cache
    # dict between calls proves nothing is served from it)
    assert cat.stats_ttl_seconds == 0.0
    cat._stats_cache[("root", "nation")] = (9e18, {"row_count": -1})
    assert cat.table_stats("nation")["row_count"] == 25
    # TTL on: second call is served from cache
    cat.stats_ttl_seconds = 300.0
    cat._stats_cache.clear()
    first = cat.table_stats("nation", user="alice")
    cat._stats_cache[("alice", "nation")] = (
        cat._stats_cache[("alice", "nation")][0], {**first, "row_count": 77})
    assert cat.table_stats("nation", user="alice")["row_count"] == 77
    # per-user: bob's entry is separate and recomputed
    assert cat.table_stats("nation", user="bob")["row_count"] == 25


def test_execution_listener_captures_dataframe_api(spark, sf_dir, cat):
    """OkeraEventListener parity: a DataFrame-API query that never
    touches GovernedCatalog.execute still lands in the engine-level
    execution log (queryId/user/action/timing/success)."""
    import time as _time

    from okera_trino_spark.sources.audit import (
        execution_log,
        install_audit_listener,
        set_audit_user,
    )
    from okera_trino_spark.sources.catalog import load_table

    assert install_audit_listener(spark)  # idempotent if session.py did it
    set_audit_user(spark, "df_user")
    before = len(execution_log(spark))
    load_table(spark, sf_dir, "region").groupBy("r_name").count().collect()
    rec = None
    for _ in range(100):  # listener bus is async — poll up to 10s
        log = execution_log(spark)
        if len(log) > before:
            rec = log[-1]
            break
        _time.sleep(0.1)
    assert rec is not None, "no execution record arrived"
    assert rec.user == "df_user"
    assert rec.success and rec.error is None
    assert rec.action  # collectToPython / count / ...
    assert rec.elapsed_ms >= 0 and rec.query_id >= 0
    assert cat.execution_log()[-1].query_id == rec.query_id
    set_audit_user(spark, "root")


def test_audit_log_records_success_and_failure(cat):
    cat.execute("SELECT count(*) AS n FROM region").collect()
    with pytest.raises(Exception):
        cat.execute("SELECT * FROM no_such_table_xyz")
    log = cat.audit_log
    assert len(log) == 2
    ok, bad = log
    assert ok.success and ok.error is None and "region" in ok.sql
    assert not bad.success and bad.error
    assert bad.query_id == ok.query_id + 1
    assert ok.user == "root"


def test_column_masks_apply_per_user(cat):
    """Column masks: hash is join-stable pseudonymization, partial is
    prefix+***, null keeps the column with no values; other users see
    raw data; masking composes with row filters on the same policy."""
    from okera_trino_spark.sources.catalog import TablePolicy

    cat.set_policy("alice", "customer", TablePolicy(
        row_filter="c_custkey <= 10",
        column_masks={"c_name": "hash", "c_mktsegment": "partial",
                      "c_acctbal": "null"}))
    rows = cat.read("customer", user="alice").collect()
    assert rows and all(r.c_custkey <= 10 for r in rows)
    import hashlib
    raw = {r.c_custkey: r for r in cat.read("customer", user="bob")
           .filter("c_custkey <= 10").collect()}
    for r in rows:
        assert r.c_name == hashlib.sha256(
            raw[r.c_custkey].c_name.encode()).hexdigest()
        assert r.c_mktsegment == raw[r.c_custkey].c_mktsegment[:2] + "***"
        assert r.c_acctbal is None
    # hash mask is deterministic → governed keys still join to themselves
    a = cat.read("customer", user="alice").select("c_name")
    assert a.join(a, "c_name").count() >= a.count()


def test_unknown_mask_kind_rejected(cat):
    from okera_trino_spark.sources.catalog import TablePolicy

    cat.set_policy("eve", "region", TablePolicy(column_masks={"r_name": "rot13"}))
    with pytest.raises(ValueError, match="mask kind"):
        cat.read("region", user="eve")


def test_metadata_sql_surface(cat):
    """SHOW TABLES / DESCRIBE through the governed SQL path (SURVEY
    3.2 metadata lifecycle) — and DESCRIBE reflects the caller's column
    authorization, not the raw schema."""
    tables = {r.tableName for r in cat.execute("SHOW TABLES").collect()}
    assert {"orders", "lineitem", "documents"} <= tables
    cols = {r.col_name for r in cat.execute("DESCRIBE orders").collect()}
    assert "o_orderkey" in cols and "o_totalprice" in cols
    cat.set_policy("carol", "orders", TablePolicy(allowed_columns=["o_orderkey"]))
    carol_cols = {r.col_name
                  for r in cat.execute("DESCRIBE orders", user="carol").collect()}
    assert carol_cols == {"o_orderkey"}


def test_cache_table_uses_inmemory_scan(cat, spark):
    """cache_table pins the GOVERNED plan: subsequent reads plan as
    InMemoryTableScan, and a policy-holding user's cache holds only
    their visible slice."""
    try:
        df = cat.cache_table("nation")
        df.count()  # materialize
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
        assert df.count() == 25
    finally:
        cat.uncache_table("nation")
    # After uncache a FRESH Dataset plans a parquet scan again (.select
    # forces a new queryExecution — the memoized Dataset object pins the
    # plan computed while cached).
    plan2 = (cat.read("nation").select("*")
             ._jdf.queryExecution().executedPlan().toString())
    assert "InMemoryTableScan" not in plan2


def test_cache_table_per_user_slices(cat):
    """Pins are keyed (user, table): two users caching the same table
    hold independent governed slices; caching does not evict the other
    user's pin, and set_policy evicts every user's slice."""
    cat.set_policy("cu_a", "nation", TablePolicy(row_filter="n_regionkey = 0"))
    try:
        df_a = cat.cache_table("nation", user="cu_a")
        df_b = cat.cache_table("nation", user="cu_b")
        assert df_a.count() == 5 and df_b.count() == 25
        assert ("cu_a", "nation") in cat._cached  # b's cache kept a's pin
        assert ("cu_b", "nation") in cat._cached
    finally:
        cat.uncache_table("nation")  # no user → every slice dropped
    assert not any(k[1] == "nation" for k in cat._cached)


def test_execute_delegation_gate(cat):
    """SQL-path delegation: same grant gate as read(); the target's
    policies govern and the audit records the effective identity."""
    cat.set_policy("dave", "orders", TablePolicy(row_filter="o_orderstatus = 'O'"))
    with pytest.raises(PermissionError):
        cat.execute("SELECT count(*) AS n FROM orders",
                    user="svc2", on_behalf_of="dave")
    cat.allow_delegation("svc2", "dave")
    n = cat.execute("SELECT count(DISTINCT o_orderstatus) AS n FROM orders",
                    user="svc2", on_behalf_of="dave").collect()[0].n
    assert n == 1  # dave's row filter applied
    assert cat.audit_log[-1].user == "dave"


def test_denied_delegation_is_audited(cat):
    """A denied on_behalf_of attempt must leave a success=False audit
    record — failed access probes are not invisible."""
    before = len(cat.audit_log)
    with pytest.raises(PermissionError):
        cat.execute("SELECT 1 AS x", user="mallory", on_behalf_of="alice")
    rec = cat.audit_log[-1]
    assert len(cat.audit_log) == before + 1
    assert rec.user == "mallory" and not rec.success
    assert "delegate" in (rec.error or "")


def test_policy_never_leaks_columns_property(cat):
    """Property: for ANY allowed-column subset, the governed read's
    visible columns are exactly the allowed ∩ physical set, in physical
    order — on both the DataFrame and SQL paths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    phys = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"]

    @settings(max_examples=15, deadline=None)
    @given(allowed=st.sets(st.sampled_from(phys), min_size=1))
    def check(allowed):
        cat.set_policy("prop_user", "orders", TablePolicy(
            allowed_columns=sorted(allowed)))
        expect = [c for c in phys if c in allowed]
        assert cat.read("orders", user="prop_user").columns == expect
        sql_cols = cat.execute("SELECT * FROM orders", user="prop_user").columns
        assert sql_cols == expect

    check()


def test_events_ts_fixture_shapes(spark, tmp_path):
    """Fixture-shape contract: load_table must yield identical
    TIMESTAMP_NTZ values for events.ts whether the parquet stores
    timestamp[ns] (read as int64 via nanosAsLong) or timestamp[us]
    (read natively). A driver-side fixture regeneration switching shapes
    zeroed round 4; this pins both shapes forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from okera_trino_spark.sources.catalog import load_table

    base_us = [1_704_067_200_123_456, 1_704_070_800_987_654, 1_704_074_400_000_001]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.0, 2.0, 3.0]),
        "props": pa.array(['{"k":1}'] * 3),
    }
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    for d in (nanos_dir, micros_dir):
        d.mkdir()
    pq.write_table(
        pa.table({**cols, "ts": pa.array([u * 1000 for u in base_us],
                                         pa.timestamp("ns"))}),
        str(nanos_dir / "events.parquet"))
    pq.write_table(
        pa.table({**cols, "ts": pa.array(base_us, pa.timestamp("us"))}),
        str(micros_dir / "events.parquet"))

    out = {}
    for label, d in (("nanos", nanos_dir), ("micros", micros_dir)):
        df = load_table(spark, str(d), "events")
        assert str(df.schema["ts"].dataType) == "TimestampNTZType()", label
        out[label] = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert out["nanos"] == out["micros"]


def test_all_tables_timestamps_normalized_to_ntz(spark, sf_dir, tmp_path):
    """Every fixture table's timestamp columns load as TIMESTAMP_NTZ,
    and a UTC-adjusted (isAdjustedToUTC=true) parquet re-encoding of the
    same wall-clock values loads IDENTICALLY — the generalized
    fixture-shape insurance beyond events.ts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from okera_trino_spark.sources.catalog import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        for f in df.schema.fields:
            assert "TimestampType" not in type(f.dataType).__name__ or \
                   type(f.dataType).__name__ == "TimestampNTZType", \
                   (name, f.name, f.dataType)

    # orders with o_orderdate re-encoded as UTC-adjusted micros
    base = pq.read_table(f"{sf_dir}/orders.parquet")
    idx = base.schema.get_field_index("o_orderdate")
    utc_col = base.column(idx).cast(pa.timestamp("us", tz="UTC"))
    utc = base.set_column(idx, pa.field("o_orderdate", pa.timestamp("us", tz="UTC")), utc_col)
    d = tmp_path / "utcorders"
    d.mkdir()
    pq.write_table(utc, str(d / "orders.parquet"))
    a = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate") \
        .orderBy("o_orderkey").limit(50).collect()
    b = load_table(spark, str(d), "orders").select("o_orderkey", "o_orderdate") \
        .orderBy("o_orderkey").limit(50).collect()
    assert [(r.o_orderkey, r.o_orderdate) for r in a] == \
           [(r.o_orderkey, r.o_orderdate) for r in b]


# ------------------------------------------------- metadata statements
# The discovery trio every Trino client sends first, routed through the
# governed string path (reference RecordServiceMetadata.java:166-282;
# listing caps :84-85; column authz in DESCRIBE :804).

def test_execute_show_schemas_capped_and_hidden(cat):
    rows = cat.execute("SHOW SCHEMAS").collect()
    names = [r.namespace for r in rows]
    assert names == ["default", "llm"]
    assert "information_schema" not in names
    assert cat.audit_log[-1].sql == "SHOW SCHEMAS"


def test_execute_show_tables_forms(cat):
    all_rows = cat.execute("SHOW TABLES").collect()
    assert {(r.namespace, r.tableName) for r in all_rows} >= {
        ("default", "orders"), ("default", "lineitem"), ("llm", "documents")}
    assert len(all_rows) <= MAX_TABLES_LISTED
    llm = cat.execute("SHOW TABLES FROM llm").collect()
    assert {r.tableName for r in llm} == {"documents", "embeddings"}
    like = cat.execute("SHOW TABLES LIKE '%ion'").collect()
    assert {r.tableName for r in like} == {"nation", "region"}


def test_execute_describe_is_policy_filtered(cat):
    rows = cat.execute("DESCRIBE customer", user="bob").collect()
    assert [r.col_name for r in rows][:2] == ["c_custkey", "c_name"]
    cat.set_policy("carol", "customer", TablePolicy(
        allowed_columns=["c_custkey", "c_name"]))
    visible = cat.execute("DESCRIBE customer", user="carol").collect()
    assert [r.col_name for r in visible] == ["c_custkey", "c_name"]
    # unknown table: audited failure, clean KeyError
    with pytest.raises(KeyError, match="no such table"):
        cat.execute("DESCRIBE nope")
    assert cat.audit_log[-1].success is False


def test_execute_metadata_on_trino_dialect(cat):
    """The trio must work with dialect='trino' — it is how Trino CLIs
    explore the catalog (reference README.md:74-90)."""
    rows = cat.execute("SHOW COLUMNS FROM orders", dialect="trino").collect()
    assert rows[0].col_name == "o_orderkey"
    assert rows[0].data_type == "bigint"
    schemas = cat.execute("SHOW SCHEMAS LIKE 'll%'", dialect="trino").collect()
    assert [r.namespace for r in schemas] == ["llm"]


def test_execute_show_catalogs(cat):
    rows = cat.execute("SHOW CATALOGS").collect()
    assert [r.catalog for r in rows] == [
        "okera", "okera_sampled_100mb", "okera_sampled_10mb"]
    like = cat.execute("SHOW CATALOGS LIKE '%10mb'", dialect="trino").collect()
    assert [r.catalog for r in like] == ["okera_sampled_10mb"]


def test_prepare_execute_deallocate(cat):
    """Trino's client prepared-statement surface: PREPARE stores text,
    EXECUTE ... USING binds ? params as values (never as SQL text),
    DEALLOCATE drops. Works on the trino dialect too."""
    cat.execute("PREPARE q1 FROM SELECT o_orderkey, o_totalprice "
                "FROM orders WHERE o_orderkey = ? AND o_totalprice > ?")
    rows = cat.execute("EXECUTE q1 USING 1, 0.0").collect()
    assert len(rows) == 1 and rows[0].o_orderkey == 1
    # string with '' escape + injection-shaped value stays a VALUE
    cat.execute("PREPARE q2 FROM SELECT count(*) AS n FROM orders "
                "WHERE o_orderstatus = ?")
    n = cat.execute("EXECUTE q2 USING 'O'' OR 1=1'").collect()[0].n
    assert n == 0
    # trino dialect text inside PREPARE
    cat.execute("PREPARE q3 FROM SELECT count(*) AS n FROM orders "
                "WHERE strpos(o_orderstatus, ?) > 0", dialect="trino")
    assert cat.execute("EXECUTE q3 USING 'O'",
                       dialect="trino").collect()[0].n > 0
    cat.execute("DEALLOCATE PREPARE q1")
    with pytest.raises(KeyError, match="q1"):
        cat.execute("EXECUTE q1 USING 1, 0.0")
    assert cat.audit_log[-1].success is False
    with pytest.raises(ValueError, match="USING"):
        cat.execute("EXECUTE q2 USING o_orderkey")


def test_use_schema_and_show_create_view(cat):
    """USE selects the session schema (bare names resolve against it
    first — the reference's session-schema resolution order); SHOW
    CREATE VIEW returns the stored external-view text
    (RecordServiceMetadata.java:392-444 stores views as SQL)."""
    assert cat.execute("USE llm").collect()[0].current_schema == "llm"
    assert cat.resolve("documents") == ("llm", "documents")
    assert cat.resolve("orders") == ("default", "orders")  # fallback
    with pytest.raises(KeyError, match="no such schema"):
        cat.execute("USE information_schema")
    cat.create_view("v_open", "SELECT o_orderkey FROM orders WHERE o_orderkey < 5")
    row = cat.execute("SHOW CREATE VIEW v_open").collect()[0]
    assert row.view == "v_open" and "o_orderkey < 5" in row.create_sql
    with pytest.raises(KeyError, match="no such view"):
        cat.execute("SHOW CREATE VIEW nope")


def test_show_stats_for(cat):
    """Trino's SHOW STATS FOR through the governed path: per-column
    data_size/nulls_fraction + the summary row-count row, footer-only,
    policy-scoped (RecordServiceMetadata.java:504-537)."""
    rows = cat.execute("SHOW STATS FOR orders", dialect="trino").collect()
    by_col = {r.column_name: r for r in rows}
    assert by_col[None].row_count > 0
    assert by_col["o_orderkey"].data_size > 0
    assert by_col["o_orderkey"].nulls_fraction == 0.0
    # column policy hides columns from the stats too
    cat.set_policy("s_analyst", "orders",
                   TablePolicy(allowed_columns=["o_orderkey"]))
    seen = {r.column_name
            for r in cat.execute("SHOW STATS FOR orders",
                                 user="s_analyst").collect()}
    assert seen == {"o_orderkey", None}
    # row filter degrades counts to NULL rather than leaking
    cat.set_policy("s_filtered", "orders",
                   TablePolicy(row_filter="o_orderkey < 10"))
    frows = cat.execute("SHOW STATS FOR orders", user="s_filtered").collect()
    assert all(r.row_count is None for r in frows)


def test_describe_input_output_prepared(cat):
    cat.execute("PREPARE dq FROM SELECT o_orderkey, o_totalprice * ? AS v "
                "FROM orders WHERE o_orderkey = ?")
    inp = cat.execute("DESCRIBE INPUT dq").collect()
    assert [(r.position, r.type) for r in inp] == [(0, "unknown"), (1, "unknown")]
    out = cat.execute("DESCRIBE OUTPUT dq").collect()
    assert [r.column_name for r in out] == ["o_orderkey", "v"]
    # Trino-rendered types (late r8), not Spark simpleStrings
    assert out[0].type == "bigint"
    with pytest.raises(KeyError, match="nope"):
        cat.execute("DESCRIBE OUTPUT nope")


def test_describe_input_ignores_question_marks_in_literals(cat):
    """r7 (ADVICE): '?' inside a string literal is data, not a
    parameter marker — DESCRIBE INPUT/OUTPUT must not count it (the
    OUTPUT planning call would otherwise bind a spurious NULL)."""
    cat.execute("PREPARE lq FROM SELECT o_orderkey, '??' AS tag "
                "FROM orders WHERE o_orderstatus = ?")
    inp = cat.execute("DESCRIBE INPUT lq").collect()
    assert [(r.position, r.type) for r in inp] == [(0, "unknown")]
    out = cat.execute("DESCRIBE OUTPUT lq").collect()
    assert [r.column_name for r in out] == ["o_orderkey", "tag"]


def test_prepare_rejects_nested_prepared_commands(cat):
    with pytest.raises(ValueError, match="PREPARE body"):
        cat.execute("PREPARE q9 FROM EXECUTE q9")
    assert cat.audit_log[-1].success is False


def test_execute_immediate_passes_through(cat):
    """Spark's own EXECUTE IMMEDIATE statement must not be captured by
    the prepared-statement handler."""
    rows = cat.execute("EXECUTE IMMEDIATE 'SELECT 41 + 1 AS x'").collect()
    assert rows[0].x == 42


# --------------------------------------------------- information_schema
def test_info_schema_tables_lists_registry(cat):
    """SELECT over information_schema.tables answers from the governed
    registry (Trino serves information_schema by driving the metadata
    SPI; the schema is hidden from listings but queryable)."""
    rows = cat.execute(
        "SELECT table_schema, table_name, table_type "
        "FROM information_schema.tables ORDER BY table_schema, table_name",
        dialect="trino").collect()
    names = [(r.table_schema, r.table_name) for r in rows]
    assert ("default", "orders") in names
    assert ("llm", "documents") in names
    assert all(r.table_type == "BASE TABLE" for r in rows)


def test_info_schema_columns_policy_scoped(cat):
    """Policy-hidden columns are ABSENT from information_schema.columns
    for the restricted caller — same contract as DESCRIBE."""
    cat.set_policy("alice", "customer", TablePolicy(
        allowed_columns=["c_custkey", "c_name"]))
    rows = cat.execute(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'customer' ORDER BY ordinal_position",
        user="alice", dialect="trino").collect()
    assert [r.column_name for r in rows] == ["c_custkey", "c_name"]
    rows_b = cat.execute(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'customer'", user="bob",
        dialect="trino").collect()
    assert len(rows_b) == 5


def test_info_schema_types_render_as_trino(cat):
    """data_type strings are the Trino renderings (bigint / varchar /
    timestamp(3) / array(real)) — the C11 mapping's engine-side view."""
    rows = cat.execute(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'embeddings' OR column_name = 'o_orderdate' "
        "ORDER BY table_name, ordinal_position", dialect="spark").collect()
    types = {r.column_name: r.data_type for r in rows}
    assert types["vec_id"] == "bigint"
    assert types["embedding"] == "array(real)"
    assert types["o_orderdate"] == "timestamp(3)"


def test_info_schema_views_and_schemata(cat):
    cat.create_view("v_info", "SELECT r_name FROM region")
    rows = cat.execute(
        "SELECT table_name, view_definition FROM information_schema.views",
        dialect="trino").collect()
    assert [(r.table_name) for r in rows] == ["v_info"]
    assert "region" in rows[0].view_definition
    # the view also appears in .tables as table_type VIEW
    trow = cat.execute(
        "SELECT table_type FROM information_schema.tables "
        "WHERE table_name = 'v_info'", dialect="trino").collect()
    assert [r.table_type for r in trow] == ["VIEW"]
    srows = cat.execute(
        "SELECT schema_name FROM information_schema.schemata "
        "ORDER BY schema_name", dialect="trino").collect()
    assert [r.schema_name for r in srows] == ["default", "llm"]
    # the original statement text is what the audit records
    assert any("information_schema.schemata" in a.sql
               for a in cat.audit_log)


def test_info_schema_name_inside_literal_untouched(cat):
    """A string VALUE containing 'information_schema.tables' is data,
    not a reference — it must survive byte-for-byte."""
    row = cat.execute(
        "SELECT 'information_schema.tables' AS s, count(*) AS n "
        "FROM information_schema.tables GROUP BY 1",
        dialect="trino").collect()[0]
    assert row.s == "information_schema.tables"
    assert row.n == 10


def test_show_functions(cat):
    """SHOW FUNCTIONS answers the callable engine surface (Spark's
    builtin registry + the dialect's session UDFs), LIKE-filterable."""
    rows = cat.execute("SHOW FUNCTIONS", dialect="trino").collect()
    names = {r.function for r in rows}
    assert {"abs", "concat", "array_sort", "trino_normalize"} <= names
    liked = cat.execute("SHOW FUNCTIONS LIKE 'regexp%'",
                        dialect="trino").collect()
    assert liked and all(r.function.startswith("regexp") for r in liked)
