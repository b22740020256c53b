"""SparkSession factory with scale-oriented defaults.

The reference exposes engine tuning through connector config + session
properties (RecordServiceConfig.java, RecordServiceSessionProperties.java:26-59).
Here the equivalent knobs are Spark SQL confs chosen for a large cluster:
AQE on (runtime re-planning replaces the reference's static task-count
formula, RecordServiceConfig.java:445-456), zstd compression (the wire
compression the reference ships disabled, RecordServiceConfig.java:66),
and broadcast threshold tuned for star-schema dims.

The generated-class cache holds 10,000 classes instead of Spark's 100
(the reference's Trino keeps compiled expression bytecode across queries
the same way). Measured reason: one perfbench analytic_batch pass
generates 188 classes and one pass over the registry about 1,800; keys
replayed in a fixed order never hit a 100-entry LRU, so every execution
recompiled its classes, and evicted classes were never unloaded. A
cached class retains about 9 KB of metaspace, so the cap bounds the
cache at about 90 MB. The conf is static: it applies only to a
SparkContext that ``get_spark`` builds, and then to every session on it
(principal sessions included).

All query implementations in this package accept an externally created
SparkSession (the driver supplies its own), so every conf set here is a
default, not a requirement.
"""

from __future__ import annotations

import os
import socket as _socket

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string


def local_frame(spark: SparkSession, rows: list[tuple],
                ddl: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` that plans as a
    ``LocalRelation``: collecting it runs no Spark job. Catalog and
    EXPLAIN answers are control-plane lookups (the reference serves them
    from its metadata SPI, RecordServiceMetadata.java:166-282), so they
    must not pay for a Python-worker job the way
    ``spark.createDataFrame(rows, ddl)``'s ``LogicalRDD`` does. The rows
    travel as one Arrow table typed by the ``ddl`` schema, so names,
    types and nullability are exactly the DDL's, and an empty ``rows``
    keeps every column."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def _set_nodelay(sock) -> None:
    try:
        sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except (OSError, AttributeError):
        pass


def _patch_py4j_connection_classes() -> None:
    """Make every FUTURE py4j command connection open with TCP_NODELAY.

    Why (r16, guide §5 — the driver): py4j frames one command as
    several small socket writes; with Nagle's algorithm on (the
    default) the second write of a command stalls behind the delayed
    ACK of the first, costing up to a full delayed-ACK period PER
    DRIVER ROUND TRIP. Measured on this host: ~10 ms/py4j op before,
    ~4.4 ms after (raw localhost RTT 0.2 ms) — every DataFrame method
    call in plan construction pays it. This is engine-level RPC
    tuning, the same class of fix as shuffle compression: it computes
    nothing and changes no plan. Both py4j connection flavors are
    patched (GatewayConnection for the legacy gateway,
    ClientServerConnection for the pinned-thread client PySpark 4
    defaults to); failures fall through silently so a py4j internals
    change degrades to the unpatched behavior, never an error. Runs
    once, when this module is imported (the import lock serialises
    it); the class markers keep a module reload from wrapping twice."""
    try:
        from py4j.java_gateway import GatewayConnection

        if not getattr(GatewayConnection, "_okera_nodelay", False):
            _orig_start = GatewayConnection.start

            def start(self, *a, **kw):  # type: ignore[no-untyped-def]
                out = _orig_start(self, *a, **kw)
                _set_nodelay(getattr(self, "socket", None))
                return out

            GatewayConnection.start = start
            GatewayConnection._okera_nodelay = True
    except Exception:  # pragma: no cover - py4j internals moved
        pass
    try:
        from py4j.clientserver import ClientServerConnection

        if not getattr(ClientServerConnection, "_okera_nodelay", False):
            _orig_conn = ClientServerConnection.connect_to_java_server

            def connect_to_java_server(self, *a, **kw):  # type: ignore[no-untyped-def]
                out = _orig_conn(self, *a, **kw)
                _set_nodelay(getattr(self, "socket", None))
                return out

            ClientServerConnection.connect_to_java_server = \
                connect_to_java_server
            ClientServerConnection._okera_nodelay = True
    except Exception:  # pragma: no cover - py4j internals moved
        pass


_patch_py4j_connection_classes()


def tune_py4j_gateway(spark: SparkSession) -> None:
    """Set TCP_NODELAY on the session's EXISTING py4j command sockets
    (see _patch_py4j_connection_classes for why) — idempotent and
    cheap, so callers may invoke it from hot paths: a tuned gateway
    client carries a marker attribute. Covers sessions created before
    this package was imported (the external driver builds its own
    SparkSession and only then imports the entry module)."""
    try:
        client = spark._sc._gateway._gateway_client
    except AttributeError:  # pragma: no cover - connect-style session
        return
    if getattr(client, "_okera_nodelay", False):
        return
    client._okera_nodelay = True
    for conn in list(getattr(client, "deque", [])):
        _set_nodelay(getattr(conn, "socket", None))

#: Confs that only matter at session-build time (safe, scale-oriented).
_BUILD_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert to broadcast join when runtime stats allow. This is the
    # Spark-native replacement for the reference's static
    # clusterSize*cores*8 task formula (RecordServiceConfig.java:445-456).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims (region/nation/customer/supplier/part at fixture
    # scale; region/nation always) should broadcast, never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Columnar Python interchange for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic session timezone so timestamp rendering matches the
    # DuckDB oracle regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # zstd everywhere the engine compresses (shuffle, broadcast, spill):
    # the reference ships zstd wire compression off by default
    # (RecordServiceConfig.java:66,173-178); on a 100 TB cluster it pays.
    "spark.io.compression.codec": "zstd",
    # Nested-struct column pruning reaches the parquet scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
    # rejects; read nanos as int64 and rebuild µs timestamps in
    # load_table (the reference truncates nanos the same way,
    # RecordServicePageSource.java:353-366). An engine default — set here
    # rather than mutated mid-session by the table loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep every generated class once compiled (Trino keeps its compiled
    # expression bytecode across queries the same way). Spark's default
    # cache holds 100 classes; one perfbench analytic_batch pass generates
    # 188 and one pass over the 228 registry keys about 1,800. Keys
    # replayed in a fixed order never hit a 100-entry LRU, so at the
    # default every execution recompiled (and re-JITted) all its classes,
    # and evicted classes were never unloaded, so the small cap saved no
    # memory. A cached class retains about 9 KB of metaspace: this cap
    # bounds the cache at about 90 MB. Static conf: it takes effect only
    # when the SparkContext is built, and then serves every session on it.
    "spark.sql.codegen.cache.maxEntries": "10000",
}


def default_parallelism() -> int:
    """Local-mode core count; on a real cluster Spark supplies this."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "okera-trino-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to the local core count — correct for
    local[N] test runs; a production deployment leaves AQE to coalesce
    from a higher initial value.

    If a session is already active it is returned as it is: static
    confs such as ``spark.sql.codegen.cache.maxEntries`` cannot be
    applied to a running SparkContext, so that session keeps whatever
    its builder set.
    """
    from okera_trino_spark.sources.audit import install_audit_listener

    active = SparkSession.getActiveSession()
    if active is not None:
        install_audit_listener(active)
        tune_py4j_gateway(active)
        return active
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _BUILD_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Engine-level audit (OkeraEventListener parity): every DataFrame
    # action on this session lands in the execution log.
    install_audit_listener(spark)
    tune_py4j_gateway(spark)
    return spark
