"""SparkSession factory + testdata catalog bootstrap.

Scale posture: these configs are tuned for the local[32] harness but the
defaults they encode (AQE on, partition coalescing, skew-join handling,
UTC session timezone, Arrow transfer) are exactly what a 1000-executor
cluster run wants too — only ``shuffle.partitions`` and memory sizing are
deployment-specific, and both are overridable via env.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "opencode_hive_archon_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive_metastore: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    AQE is enabled so runtime statistics re-plan joins (broadcast demotion/
    promotion, skew splitting, partition coalescing) — at 100 TB this is the
    difference between a plan that survives skewed keys and one that doesn't.

    ``hive_metastore=True`` enables Hive catalog support (persistent
    databases/tables, external storage per BASELINE.json's deployment
    approach); the local harness defaults to the in-memory catalog, which
    still supports saveAsTable/bucketBy against spark.sql.warehouse.dir.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type, so
        # read the raw int64 and convert (see read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Production state-store posture for every streaming job: RocksDB
        # keeps stream-stream join / session-window / dedup state OFF the
        # executor heap (spillable, incrementally checkpointed), so state
        # size is bounded by disk, not memory — the difference between a
        # stream-stream join that survives a weekend and one that OOMs.
        # tests/test_streaming_state.py drives multi-batch runs through this
        # provider and asserts watermark eviction keeps state bounded.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # NOTE (r18, measured): RocksDB changelog checkpointing
        # (spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.
        # enabled) was tried here and REVERTED. It defers per-commit
        # snapshots to the background maintenance thread, which is the
        # right trade for ONE long-lived query with large state — but this
        # engine runs MANY short-lived streaming queries per session, each
        # with a fresh checkpoint dir, so deferred snapshot work piles up
        # in the shared maintenance pool and bleeds into later queries:
        # measured 14.1 s -> 50.1 s on stream_mv_maintenance and
        # 11.3 s -> 28.2 s (escalating per iteration: 12.8 warm -> 65.8)
        # on stream_dedup_ladder, while single-shot runs looked fine.
        # Production deployments with long-lived queries can re-enable it
        # via get_spark(extra_conf=...).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if hive_metastore:
        try:
            builder = builder.enableHiveSupport()
        except Exception:
            pass  # Hive classes absent: fall back to the in-memory catalog
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Handles of every materialize()d intermediate, so long-lived sessions
# (bench loops, notebooks) can release them between workloads instead of
# accumulating disk-store blocks + CacheManager bookkeeping for the session
# lifetime. Spark's CacheManager dedupes identical canonicalized plans, so
# repeat invocations of the SAME query reuse one entry — the leak risk is
# across DIFFERENT plans (parameter sweeps, per-query temp dirs).
_PERSISTED: list[DataFrame] = []


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a shared intermediate, cluster-safe.

    ``persist(MEMORY_AND_DISK)`` instead of ``localCheckpoint()``: it keeps
    lineage (a lost executor recomputes its blocks instead of failing the
    job — localCheckpoint pins blocks with no fallback) and spills oversized
    partitions to disk instead of OOMing. The eager ``count()`` forces the
    cache fill so every downstream branch reads the cached blocks rather
    than re-evaluating the (expensive) producing expressions per branch.

    Callers that are done with a query's results should call
    ``unpersist_all()`` to release the tracked handles.
    """
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    _PERSISTED.append(df)
    return df


def materialize_iter(df: DataFrame) -> DataFrame:
    """Materialize AND truncate lineage — for fixpoint loops only.

    Iterative algorithms (connected components, label propagation) that
    re-derive a frame from the previous round's frame grow the logical plan
    geometrically: each round's plan embeds the prior round's plan several
    times (the frame is referenced by both join sides and the convergence
    check), so by round ~15 the plan STRING alone exceeds JVM limits (a
    2 GB plan surfaced exactly this way on a 16-deep planted chain).
    ``persist()`` does not help — caching keeps the full lineage.

    ``localCheckpoint(eager=True)`` cuts the plan at this node: downstream
    rounds see a leaf. The trade-off vs ``materialize()`` is fault posture —
    localCheckpoint pins blocks to executors with no recompute path, so on a
    multi-executor production cluster the loops should flip to reliable
    checkpointing (``sc.setCheckpointDir(hdfs_path)`` + ``df.checkpoint()``)
    — same lineage cut, blocks on durable storage. Round count is O(log n)
    for the star loops, so the per-round checkpoint write is not the
    bottleneck at scale; the geometric plan growth would be."""
    return df.localCheckpoint(eager=True)


def unpersist_all() -> int:
    """Release every tracked materialize() handle (non-blocking); returns
    how many were released. Safe to call at any point between jobs."""
    n = 0
    for df in _PERSISTED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _PERSISTED.clear()
    _KEYED.clear()
    return n


# Session-scoped handles for expensive shared intermediates that MULTIPLE
# query entry points consume (e.g. the near-dup edge table feeds
# recall_graph_khop AND the dedup recall gates). Spark's CacheManager already
# dedupes identical canonicalized plans, but each invocation still rebuilds
# the (large) logical plan and re-runs the eager count; the keyed handle
# skips both and guarantees one computation per (session, key).
_KEYED: dict[tuple, DataFrame] = {}


def materialize_keyed(spark: SparkSession, key: tuple, builder) -> DataFrame:
    """Return the session-cached materialization for ``key``, computing it
    via ``builder()`` (a zero-arg callable returning a DataFrame) on first
    use. Keys must include every parameter the plan depends on (sf_dir,
    tuning constants); the session id is added automatically so a restarted
    SparkSession never serves another session's dead handles."""
    full_key = (spark.sparkContext.applicationId, *key)
    df = _KEYED.get(full_key)
    if df is None:
        df = materialize(builder())
        _KEYED[full_key] = df
    return df


def drop_keyed(spark: SparkSession, prefix: tuple, keep: tuple) -> None:
    """Unpersist and forget this session's keyed entries whose key starts
    with ``prefix``, except ``keep``. A versioned entry (a key ending in a
    stamp of its inputs) calls this before ``materialize_keyed`` so that
    only its current version stays cached."""
    app = spark.sparkContext.applicationId
    stale = [
        k for k in _KEYED
        if k[0] == app and k[1 : 1 + len(prefix)] == prefix and k[1:] != keep
    ]
    for k in stale:
        df = _KEYED.pop(k)
        df.unpersist()
        _PERSISTED[:] = [d for d in _PERSISTED if d is not df]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP.

    Testdata regenerations have flipped ``events.ts`` between parquet
    TIMESTAMP(NANOS) (read as bigint under nanosAsLong) and plain
    ``timestamp[us]`` without timezone (read as TIMESTAMP_NTZ since Spark
    3.4). The engine's event-time surface (watermarks, ``unix_micros``,
    epoch casts) requires TIMESTAMP; with the session timezone pinned to
    UTC (get_spark) the cast is value-identical and the DuckDB oracle
    agrees. Applied uniformly to all tables so the next driver-side schema
    drift lands here, not in nine scattered AnalysisExceptions.
    """
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _nanos_as_long(spark: SparkSession) -> None:
    """Read parquet TIMESTAMP(NANOS) as raw int64 (see :func:`_fix_ts`).
    Runtime-settable; needed even when the caller built the session (e.g.
    the grading driver) without our factory."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def _fix_ts(df: DataFrame) -> DataFrame:
    """The events ``ts`` fix for a batch or a streaming frame: a raw int64
    of nanoseconds becomes a microsecond timestamp by truncation (the same
    conversion DuckDB applies), then :func:`normalize_timestamps`."""
    if dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_timestamps(df)


def _table_stamp(path: str) -> tuple:
    """``(name, size, mtime_ns)`` of every file of a parquet table, a single
    file or a directory of part files, read with ``os`` on the driver. Any
    rewrite of the table changes it."""
    if os.path.isdir(path):
        return tuple(sorted(
            (e.name, st.st_size, st.st_mtime_ns)
            for e in os.scandir(path)
            if e.is_file()
            for st in (e.stat(),)
        ))
    st = os.stat(path)
    return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)


# The parquet-to-Spark type mapping confs that schema inference reads: a
# schema inferred under one setting is wrong under another.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# Session-scoped inferred schemas, one entry per table path:
# path -> (key, schema), the key being the session id, the files' stamps and
# the type-mapping confs. A key that no longer matches replaces the entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet table at ``path``, inferred
    once per session and per version of the files. Inference is a Spark job
    plus a footer read; a reader given the schema skips both. A rewritten
    file (new stamp) or a changed type-mapping conf is inferred again, and
    the stale entry for the path is replaced, so a schema is never served
    stale."""
    path = os.path.abspath(path)
    key = (
        spark.sparkContext.applicationId,
        _table_stamp(path),
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with type normalization.

    The reader is given the table's schema from :func:`_table_schema`, so
    only the first read of a table in a session runs inference.

    ``events.ts`` has appeared as parquet TIMESTAMP(NANOS), read as raw
    int64 under the legacy nanosAsLong conf and converted by
    :func:`_fix_ts`, and as timezone-less ``timestamp[us]``
    (TIMESTAMP_NTZ), normalized by :func:`normalize_timestamps`. Either
    way downstream code sees TIMESTAMP.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        _nanos_as_long(spark)
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    return _fix_ts(df) if name == "events" else normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the driver's parquet tables lazily (no action triggered).

    Columnar parquet scans get predicate pushdown + column pruning from
    Catalyst for free; callers must select/filter declaratively so the
    pruning reaches the scan.
    """
    return {name: read_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view so each capability is
    reachable from SQL as well as the DataFrame API (BASELINE.json
    ``spark_approach``: Spark SQL surface; Hive metastore-backed tables where
    a metastore is deployed, temp views in the local harness)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
