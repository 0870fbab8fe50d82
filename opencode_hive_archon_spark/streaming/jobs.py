"""Structured Streaming jobs over ``events`` (SURVEY.md §2B Family 4).

Execution harness: one function, ``_run_to_table``, starts, drains
(``processAllAvailable()``) and stops every streaming query here. The
sink is a memory sink, whose stopped ``MemoryPlan`` still serves its rows
from the driver after its view is dropped, so the result is returned
without a second copy; or a foreachBatch function, whose caller reads
back what it wrote. Parquet inputs are read as streams by one helper,
``_parquet_stream``. At production scale the same code points at a Kafka
source and a real sink; only the source/sink factory changes (unified
batch/stream model).

Determinism & oracles:
* Single-batch input => the final watermark is max(ts) - delay, so append
  mode emits exactly the windows with window_end <= watermark. The batch
  oracle replicates that closure condition — exact check.
* The late-data query needs MULTI-batch arrival order (maxFilesPerTrigger);
  arrival order isn't part of the declared result => rows-only + pytest.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencode_hive_archon_spark.session import (
    _fix_ts,
    _nanos_as_long,
    _table_schema,
    read_table,
)
from opencode_hive_archon_spark.spec import QuerySpec
from opencode_hive_archon_spark.sources.deltalog import (
    DeltaCdfStreamSource,
    delta_delete,
    delta_merge,
    delta_snapshot,
    delta_write,
)
from opencode_hive_archon_spark.sources.deltastats import delta_scan

WATERMARK_DELAY = "10 minutes"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _ensure_rocksdb(spark: SparkSession) -> None:
    """Pin the RocksDB state-store provider on the CALLER's session.

    session.get_spark sets this at build time, but the registered queries
    must also run correctly under a session the harness built itself (the
    driver contract passes its own SparkSession). The provider conf is read
    when a streaming query STARTS, so a runtime set here puts every
    stateful operator below — stream-stream join, session windows, dedup,
    transformWithState — on the spillable, incrementally-checkpointed
    RocksDB store regardless of who built the session.
    tests/test_streaming_state.py asserts the provider actually carries
    multi-batch state and that watermark eviction keeps it bounded."""
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
        )
    except Exception:
        pass  # conf locked down: the session keeps its configured provider


STREAM_STATE_TARGET_ROWS = 25_000
"""Rows PER MICRO-BATCH per STATE PARTITION for LIGHT stateful operators
(windowed/hash aggregations, dedup, flatMapGroupsWithState): one store per
partition, O(1) work per row. Structured Streaming fixes each stateful
operator's state-partition count at query start from
``spark.sql.shuffle.partitions`` — AQE never coalesces stateful exchanges,
so unlike the batch side there is no runtime correction for a constant
that's wrong for the input size. Every state partition costs a real
per-micro-batch floor (a RocksDB instance opened, committed and
checkpointed per batch, per stateful operator), so the count must be
DERIVED from input scale (guide §2: derive partitioning from input size),
not pinned to a local core count — and from the PER-BATCH row count, not
the stream total: a single-batch query pays the store floor once, while an
N-batch pipeline re-pays it every batch over 1/N of the rows. Measured at
the 100 k-row single-batch point (quiet host): the derived 4 partitions
beat 16 by ~0.3-0.8 s per aggregation query and beat the session constant
32 by ~1-2.5 s. There is no floor: a batch of at most one target's rows
gets ONE store, since a second store holding a few hundred rows only adds
its open/commit/checkpoint cost. Measured on the 10 k-row, 2-batch
``stream_tumbling_counts`` (4 cores): a floor of 4 stores took its
state-store commit time from 178 ms to 1,590 ms per 3 calls. Production
deployments size it explicitly via
``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` (state volume / target per-store
size); the derived local default keeps the driver's bench comparable
across core counts because it depends on the DATA, not on
``SPARK_GRAFT_CPUS``."""

STREAM_JOIN_TARGET_ROWS = 6_250
"""Per-batch rows per state partition for the stream-stream JOIN: each
partition holds FOUR RocksDB stores and does O(candidate-pairs) probe work
per row, so the balance point sits at ~4x finer partitioning than the
light operators. Measured knee (quiet host, median-of-3
stream_stream_join over 100 k rows/side): 4 partitions 9.9 s, 8 -> 7.9 s,
16 --> 4.8 s, 32 -> slower than all three. Same env override applies."""


def _stream_shuffle_partitions(
    spark: SparkSession, n_rows: int, target: int = STREAM_STATE_TARGET_ROWS
) -> int:
    """State partitions for a query of ``n_rows`` rows per micro-batch:
    one per ``target`` rows (ceil), at least 1, at most the cluster's
    default parallelism. ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS``
    overrides the count."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        return max(1, int(env))
    cap = max(int(spark.sparkContext.defaultParallelism), 1)
    return max(1, min(cap, -(-int(n_rows) // target)))


@contextmanager
def _stream_partitions(
    spark: SparkSession,
    n_rows: int,
    target: int = STREAM_STATE_TARGET_ROWS,
):
    """Pin ``spark.sql.shuffle.partitions`` to the input-derived state
    partition count for the duration of ONE streaming query (the conf is
    read when the query starts; each run uses a fresh checkpoint, so the
    pinned count is consistent for the query's whole lifetime), then
    restore the session value. foreachBatch merge jobs run inside the
    window and inherit the right-sized shuffle too."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(_stream_shuffle_partitions(spark, n_rows, target)),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _events_rows(sf_dir: str) -> int:
    """events row count from parquet footer metadata (driver-side peek)."""
    from opencode_hive_archon_spark.operators.similarity import corpus_rows

    return corpus_rows(sf_dir, "events")


def _parquet_stream(
    spark: SparkSession,
    indir: str,
    one_file_per_trigger: bool = False,
    schema_path: str | None = None,
) -> DataFrame:
    """readStream over a parquet directory: the schema from a batch read,
    or the session's cached schema of ``schema_path`` (a testdata table the
    directory exposes), optionally one file per micro-batch
    (``maxFilesPerTrigger=1``, for the time-ordered slice dirs), the
    RocksDB provider pinned, and the events ``ts`` fix of ``read_table``."""
    _ensure_rocksdb(spark)
    _nanos_as_long(spark)
    reader = spark.readStream.schema(
        _table_schema(spark, schema_path) if schema_path
        else spark.read.parquet(indir).schema
    )
    if one_file_per_trigger:
        reader = reader.option("maxFilesPerTrigger", 1)
    return _fix_ts(reader.parquet(indir))


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet."""
    # File stream sources need a directory: expose the single parquet file
    # through a symlinked temp dir (kept for the session; tiny). Keyed by a
    # stable content-independent digest of the absolute path — NOT Python's
    # process-salted hash() — so every process maps one sf_dir to one dir;
    # a stale link to a different target is replaced, never silently reused.
    target = os.path.abspath(f"{sf_dir}/events.parquet")
    digest = hashlib.sha1(target.encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"events_stream_{digest}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(target, link)
    return _parquet_stream(spark, stream_dir, schema_path=target)


def _run_to_table(
    spark: SparkSession,
    stream: DataFrame,
    mode: str = "append",
    n_rows: int | None = None,
    target: int = STREAM_STATE_TARGET_ROWS,
    foreach_batch=None,
    available_now: bool = True,
) -> DataFrame | None:
    """Start a streaming query, drain it with ``processAllAvailable`` and
    stop it: the one place every streaming job in this module runs.

    The sink is a memory sink in output ``mode`` unless ``foreach_batch``
    (a ``(batch_df, batch_id)`` function) is given, in which case nothing
    is returned and the caller reads what the function wrote. A memory
    sink's rows are returned as the sink's own frame: a stopped sink's
    ``MemoryPlan`` holds its rows on the driver and serves them after its
    view is dropped, so no second copy (no lineage cut) is needed. The
    view and the checkpoint directory are removed whether or not the
    query fails.

    ``n_rows`` (the query's PER-MICRO-BATCH row count — for the
    single-batch availableNow streams, the whole input's footer row
    count) sizes the stateful operators' state-partition count — see
    ``_stream_shuffle_partitions``; ``target`` picks the per-partition
    row budget (light aggregations vs the 4-store stream-stream join).
    ``available_now=False`` keeps the default micro-batch trigger, which
    a rate-limited source needs to drain across several batches."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    writer = stream.writeStream.option("checkpointLocation", ckpt)
    if foreach_batch is None:
        writer = writer.outputMode(mode).format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    try:
        with (
            _stream_partitions(spark, n_rows, target)
            if n_rows is not None else nullcontext()
        ):
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name) if foreach_batch is None else None
    finally:
        if foreach_batch is None:
            spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows: count + exact value sum per event_type.
    Append mode => only watermark-closed windows emit (oracle mirrors)."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = _run_to_table(spark, agg, "append", n_rows=_events_rows(sf_dir))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


_ORACLE_TUMBLING = """
WITH bounds AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
agg AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
         time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS window_end,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2, 3
)
SELECT window_start, window_end, event_type, n_events, total_value
FROM agg, bounds WHERE window_end <= wm
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (the canonical enrichment join): streaming
    events join the static ``customer`` table on user_id, then hourly
    windowed counts per market segment.

    A static inner side is STATELESS in Structured Streaming — each
    micro-batch joins against the (broadcastable) batch relation; no join
    state, no extra watermark requirement. The watermark on ts (set on the
    stream before the join) still drives append-mode window closure for the
    downstream aggregation, so the batch oracle replicates the same closure
    condition."""
    ev = _stream_events(spark, sf_dir)
    segments = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.withWatermark("ts", WATERMARK_DELAY)
        .join(segments, "user_id")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = _run_to_table(spark, agg, "append", n_rows=_events_rows(sf_dir))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "c_mktsegment",
        "n_events",
        "total_value",
    )


_ORACLE_STREAM_STATIC_JOIN = """
WITH bounds AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
agg AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
         c_mktsegment, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events JOIN customer ON user_id = c_custkey
  GROUP BY 1, 2, 3
)
SELECT window_start, window_end, c_mktsegment, n_events, total_value
FROM agg, bounds WHERE window_end <= wm
"""


STREAM_JOIN_WINDOW_S = 300  # follow events within 5 minutes of the lead


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: for every event, the same user's follow-up
    events within the next 5 minutes (the funnel/sessionization primitive).

    Both sides carry watermarks and the join condition is time-bounded, so
    Spark's state store evicts rows once the watermark passes lead_ts +
    5 minutes — bounded state at any scale, the defining property of a
    production stream-stream join. Inner joins emit eagerly on match (no
    closure wait), so the single-batch availableNow run is batch-exact and
    the oracle is the plain interval self-join.

    Time comparisons run on integer MICROSECONDS on both engines (the
    parquet ns timestamps floor to µs on read), keeping the boundary
    predicate bit-exact.
    """
    joined = funnel_join(
        _stream_events(spark, sf_dir), _stream_events(spark, sf_dir)
    )
    return _run_to_table(
        spark, joined, "append",
        n_rows=_events_rows(sf_dir), target=STREAM_JOIN_TARGET_ROWS,
    )


def funnel_join(lead_src: DataFrame, follow_src: DataFrame) -> DataFrame:
    """The stream-stream funnel-join TRANSFORMATION, source-agnostic so the
    registered single-batch job and the multi-batch bounded-state test
    (tests/test_streaming_state.py) drive the identical plan.

    The time bound MUST be native timestamp-interval arithmetic:
    StreamingJoinHelper derives each side's state-eviction watermark only
    from ``ts ± INTERVAL`` shapes. An earlier version phrased the same
    bound as ``unix_micros(follow_ts) <= unix_micros(lead_ts) + 3e8`` —
    semantically identical (timestamps ARE microseconds), but opaque to the
    extractor, so join state silently grew without bound ("Failed to
    extract state value watermark" in the logs; the bounded-state test
    fails). Timestamp comparison is exact integer-µs on both engines, so
    the oracle is unchanged."""
    lead = lead_src.withWatermark("ts", WATERMARK_DELAY).select(
        F.col("event_id").alias("lead_id"),
        F.col("user_id"),
        F.col("event_type").alias("lead_type"),
        F.col("ts").alias("lead_ts"),
    )
    follow = follow_src.withWatermark("ts", WATERMARK_DELAY).select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("follow_user"),
        F.col("event_type").alias("follow_type"),
        F.col("ts").alias("follow_ts"),
    )
    lead_us = F.unix_micros(F.col("lead_ts"))
    follow_us = F.unix_micros(F.col("follow_ts"))
    return lead.join(
        follow,
        (F.col("user_id") == F.col("follow_user"))
        & (F.col("follow_ts") > F.col("lead_ts"))
        & (
            F.col("follow_ts")
            <= F.col("lead_ts") + F.expr(f"INTERVAL {STREAM_JOIN_WINDOW_S} SECONDS")
        ),
    ).select(
        "lead_id", "follow_id", "user_id", "lead_type", "follow_type",
        ((follow_us - lead_us) / F.lit(1_000_000)).cast("long").alias("gap_s"),
    )


_ORACLE_STREAM_STREAM_JOIN = f"""
SELECT a.event_id AS lead_id, b.event_id AS follow_id, a.user_id,
       a.event_type AS lead_type, b.event_type AS follow_type,
       (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + {STREAM_JOIN_WINDOW_S} * 1000000
"""


def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5: average value per window."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
    )
    out = _run_to_table(spark, agg, "append", n_rows=_events_rows(sf_dir))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
        "avg_value",
    )


# Each event belongs to the two 10-min windows starting at bucket and
# bucket-5min; expand via the two offsets and aggregate.
_ORACLE_SLIDING = """
WITH bounds AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
expanded AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - o * (INTERVAL 5 MINUTE) AS window_start,
         value
  FROM events, unnest([0, 1]) AS t(o)
),
agg AS (
  SELECT window_start, window_start + INTERVAL 10 MINUTE AS window_end,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
  FROM expanded GROUP BY 1, 2
)
SELECT window_start, window_end, n_events, avg_value
FROM agg, bounds WHERE window_end <= wm
"""


def session_windows_agg(src: DataFrame) -> DataFrame:
    """The session-window TRANSFORMATION, source-agnostic (shared by the
    registered job and the multi-batch bounded-state test)."""
    return (
        src.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    ev = _stream_events(spark, sf_dir)
    agg = session_windows_agg(ev)
    out = _run_to_table(spark, agg, "append", n_rows=_events_rows(sf_dir))
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


# Gaps-and-islands: a session breaks when the gap from the previous event of
# the same user exceeds 30 min; session_end = last_ts + gap (session_window
# semantics). Same watermark closure as above.
_ORACLE_SESSION = """
WITH bounds AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
sessions AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM islands GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sessions, bounds WHERE session_end <= wm
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type, minute) within the
    watermark: emits one row per first-seen key. Output is the KEY SET
    (arrival order decides which row survives, keys don't depend on it)."""
    ev = _stream_events(spark, sf_dir)
    keyed = ev.select(
        "user_id", "event_type", F.date_trunc("minute", F.col("ts")).alias("minute"),
        F.col("ts"),
    )
    deduped = (
        keyed.withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicates(["user_id", "event_type", "minute"])
        .select("user_id", "event_type", "minute")
    )
    return _run_to_table(spark, deduped, "append", n_rows=_events_rows(sf_dir))


_ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute
FROM events
"""


def _ts_cut_from_metadata(sf_dir: str):
    """Midpoint of the events time span, read from the parquet FOOTER
    statistics — a driver-side metadata peek, not a Spark scan. At cluster
    scale this is exactly where such a split point should come from (or be
    passed in by the caller); it replaces the round-1 mid-pipeline
    ``agg(min,max).first()`` full-scan action."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    paths = (
        [path]
        if os.path.isfile(path)
        else [
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.endswith(".parquet")
        ]
    )
    lo = hi = None
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema == "ts" and c.statistics is not None:
                    mn, mx = c.statistics.min, c.statistics.max
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
    if lo is None:
        raise ValueError(f"no ts statistics in {path}")
    return lo + (hi - lo) / 2


def stream_late_data(spark: SparkSession, sf_dir: str, cut=None) -> DataFrame:
    """Watermark semantics demo: events arrive in time-ordered micro-batches
    except a held-back slice replayed at the end — by then the watermark has
    passed them, so append-mode aggregation drops them from the counts.

    ``cut`` (the batch-split timestamp) is a harness parameter: callers pass
    it, or it defaults to the span midpoint read from parquet footer
    statistics — never a mid-pipeline aggregate action.

    Multi-batch arrival (maxFilesPerTrigger=1) is inherently harness-
    dependent => rows-only; tests assert held-back rows were dropped.
    """
    ev = read_table(spark, sf_dir, "events")
    if cut is None:
        cut = _ts_cut_from_metadata(sf_dir)
    # batch 0: on time; batch 1: advances the watermark; batch 2: a
    # held-back slice of batch 0's time range, LATE -> dropped
    sliced = ev.withColumn(
        "slice",
        F.when(F.col("ts") >= F.lit(cut), F.lit(1))
        .when(F.col("event_id") % 199 == 0, F.lit(2))
        .otherwise(F.lit(0)),
    )
    workdir = tempfile.mkdtemp(prefix="late_stream_")
    try:
        indir = _write_time_slices(sliced, workdir, None, slice_ids=range(3))
        agg = (
            _parquet_stream(spark, indir, one_file_per_trigger=True)
            .withWatermark("ts", WATERMARK_DELAY)
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        # 3 slice files at maxFilesPerTrigger=1 -> per-batch rows = total/3.
        out = _run_to_table(
            spark, agg, "append", n_rows=_events_rows(sf_dir) // 3
        )
        return out.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running profile (event count, exact value total, first/last
    event second) maintained in explicit GroupState across micro-batches.

    Value totals accumulate as integer cents inside the state (exact, order
    independent) so the emitted doubles match the batch oracle bit-for-bit.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _stream_events(spark, sf_dir).select("user_id", "ts", "value")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, cents, first_s, last_s = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            cents += int(sum(int(round(v * 100)) for v in pdf["value"]))
            secs = pdf["ts"].astype("int64") // 1_000_000_000
            lo, hi = int(secs.min()), int(secs.max())
            first_s = lo if first_s is None else min(first_s, lo)
            last_s = hi if last_s is None else max(last_s, hi)
        state.update((n, cents, first_s, last_s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "first_sec": [first_s],
                "last_sec": [last_s],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double, "
        "first_sec long, last_sec long",
        stateStructType="n long, cents long, first_s long, last_s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_table(spark, out, "update", n_rows=_events_rows(sf_dir))


# Single-batch input => one state emission per user == the batch profile.
_ORACLE_STATEFUL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
       CAST(min(floor(epoch(ts))) AS BIGINT) AS first_sec,
       CAST(max(floor(epoch(ts))) AS BIGINT) AS last_sec
FROM events GROUP BY user_id
"""


def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → parquet: the exactly-once FILE sink pattern the other
    jobs' memory sink stands in for. Each micro-batch overwrites its own
    ``batch=<id>`` directory — an idempotent write, so a replayed batch
    (restart between commit and checkpoint) lands in the same path instead
    of duplicating rows. After completion the sink directory is read back
    and aggregated to per-day/type totals; the final state is independent of
    how the input was batched, so the query is exact-oracle-checkable.

    At scale the identical function body writes to object storage and the
    read-back is the downstream consumer; nothing here is harness-specific
    except the temp directory."""
    proj = _stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out_dir = tempfile.mkdtemp(prefix="fb_sink_")

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    try:
        _run_to_table(spark, proj, foreach_batch=write_batch)
        back = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
        return (
            back.groupBy(
                F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .orderBy("day", "event_type")
            .localCheckpoint(eager=True)  # out_dir is deleted below
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


_ORACLE_FOREACHBATCH = """
SELECT date_trunc('day', ts) AS day, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC: hourly tumbling bars per event_type, open/close
    picked by ``min_by``/``max_by`` over a PACKED ordering key — zero-padded
    (unix_micros, event_id) concatenated so string order equals event
    order. min_by/max_by are declarative aggregates, so the bar state per
    open window is O(1) (current extreme + its key), mergeable across
    micro-batches — the streaming-native form of the batch operator
    (operators/timeseries.py::events_ohlc_bars), which resolves the same
    rows with row_number windows. Append mode => only watermark-closed
    bars emit; the oracle mirrors the closure and picks open/close by the
    same (ts, event_id) order."""
    ev = _stream_events(spark, sf_dir)
    okey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        ev.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("value", okey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", okey).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    out = _run_to_table(spark, agg, "append", n_rows=_events_rows(sf_dir))
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_events",
    )


_ORACLE_STREAM_OHLC = """
WITH bounds AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
rn AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, value,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL 1 HOUR, ts),
                            event_type ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL 1 HOUR, ts),
                            event_type ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
),
agg AS (
  SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
         event_type,
         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         max(value) AS high,
         min(value) AS low,
         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         count(*) AS n_events
  FROM rn GROUP BY 1, 2, 3
)
SELECT window_start, window_end, event_type, open, high, low, close, n_events
FROM agg, bounds WHERE window_end <= wm
"""


# --- streaming leg of the dedup ladder -----------------------------------

# Deterministic synthetic ingest time: doc_id * 10 s past a fixed epoch.
# 10 s spacing makes each quarter-corpus slice span well past the 10-min
# watermark, so state eviction genuinely fires between micro-batches.
_LADDER_EPOCH = 1_700_000_000


def _ladder_ingest_ts():
    return F.timestamp_seconds(
        F.lit(_LADDER_EPOCH) + F.col("doc_id").cast("long") * 10
    )


def _write_time_slices(sliced: DataFrame, workdir: str,
                       replay_slice: int | None = 2,
                       slice_ids=range(1, 5)) -> str:
    """Write a frame carrying a ``slice`` column as one parquet file per
    id in ``slice_ids`` (ascending mtimes -> chronological micro-batches
    under maxFilesPerTrigger=1; a slice with no rows still gets a
    schema-only file, so it is still a batch), optionally appending a
    byte-identical REPLAY of one slice at the end — the at-least-once
    redelivery an object-store/Kafka source produces. Returns the stream
    input dir."""
    indir = os.path.join(workdir, "in")
    os.makedirs(indir, exist_ok=True)
    # ONE partitioned write, not one filter job per slice, each of which
    # would re-run the (globally-windowed) slicing plan (guide §1.2 step
    # 1: don't repeat passes). repartition(slice) puts each slice value in
    # exactly one task, so every slice dir gets exactly one parquet file,
    # and partitionBy drops the slice column from the data files; row
    # order within a file is not part of any declared result.
    tmp = os.path.join(workdir, "slices")
    sliced.repartition(F.col("slice")).write.mode("overwrite").partitionBy(
        "slice"
    ).parquet(tmp)
    srcs = {}
    for i in slice_ids:
        sdir = os.path.join(tmp, f"slice={i}")
        if not os.path.isdir(sdir):  # empty slice: a schema-only file
            sdir = os.path.join(workdir, f"empty={i}")
            sliced.drop("slice").limit(0).coalesce(1).write.parquet(sdir)
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        srcs[i] = os.path.join(indir, f"{i:04d}.parquet")
        shutil.copy(os.path.join(sdir, part), srcs[i])
    if replay_slice is not None:
        shutil.copy(srcs[replay_slice], os.path.join(indir, "9999-replay.parquet"))
    for i, f in enumerate(sorted(os.listdir(indir))):
        t = 1_700_000_000 + i * 100
        os.utime(os.path.join(indir, f), (t, t))
    return indir


def _ladder_sliced_docs(spark: SparkSession, sf_dir: str, workdir: str,
                        replay_slice: int | None = 2) -> str:
    """documents as 4 ingest-time-ordered slices + a replayed slice."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _ladder_ingest_ts().alias("ingest_ts")
    )
    from pyspark.sql import Window

    sliced = docs.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("doc_id"))
    )
    return _write_time_slices(sliced, workdir, replay_slice)


def _ladder_stream(spark: SparkSession, indir: str) -> DataFrame:
    """The in-stream rung: digest + watermark + exact duplicate-delivery
    drop. dropDuplicatesWithinWatermark keys on (h, doc_id), so the drop is
    ARRIVAL-ORDER-INVARIANT (every copy of a key carries identical
    content): redelivered rows are removed while their key state is live,
    and rows older than the watermark are dropped as late — either way a
    replay contributes nothing, which is what makes the downstream merge
    exactly-once over an at-least-once source. Watermark eviction keeps the
    state table bounded (tests/test_streaming_state.py)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        _parquet_stream(spark, indir, one_file_per_trigger=True).select(
            "doc_id", F.sha2(norm, 256).alias("h"), F.col("ingest_ts")
        )
        .withWatermark("ingest_ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["h", "doc_id"])
    )


def stream_dedup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest counterpart of the batch dedup ladder's exact
    rung (operators/dedup.py::corpus_dedup_pipeline): documents arrive in
    time-ordered micro-batches (plus a replayed slice — at-least-once
    delivery), the in-stream rung drops redelivered rows within the
    watermark, and foreachBatch MERGES each batch's digest summary into a
    persistent canonical map table:

        new_map = (old_map ∪ batch groupBy h -> (min doc_id, count))
                  groupBy h -> (min, sum)

    min/sum are associative+commutative, so the final map — and therefore
    the emitted per-document (doc_id, canonical_id, status, n_copies) —
    is INDEPENDENT of how the input was batched: the batch oracle is an
    exact check, not a rows-only one. Per-batch cost is O(batch + map);
    at production scale the same foreachBatch body is a MERGE INTO against
    a Delta/Iceberg digest table and the doc log is the ingest ledger."""
    from opencode_hive_archon_spark.operators.similarity import corpus_rows

    workdir = tempfile.mkdtemp(prefix="dedup_ladder_")
    map_dir = os.path.join(workdir, "map")
    docs_dir = os.path.join(workdir, "docs")
    state = {"version": -1}

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf = bdf.localCheckpoint(eager=True)  # cut streaming lineage
        summary = bdf.groupBy("h").agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        if state["version"] >= 0:
            prev = bdf.sparkSession.read.parquet(
                os.path.join(map_dir, f"v{state['version']}")
            )
            summary = (
                prev.unionByName(summary)
                .groupBy("h")
                .agg(
                    F.min("canonical_id").alias("canonical_id"),
                    F.sum("n_copies").alias("n_copies"),
                )
            )
        # idempotent versioned write (a replayed batch overwrites its own
        # version dir), then advance the pointer
        summary.write.mode("overwrite").parquet(
            os.path.join(map_dir, f"v{batch_id}")
        )
        state["version"] = batch_id
        # Doc log is batch_id-keyed + overwrite for the same reason: a
        # foreachBatch RETRY (at-least-once executor semantics) re-runs the
        # same batch_id, and a bare append would double-log that batch's
        # rows — duplicating output rows despite the exactly-once map. The
        # reader unions the per-batch dirs.
        bdf.select("doc_id", "h").write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"b{batch_id}")
        )

    try:
        indir = _ladder_sliced_docs(spark, sf_dir, workdir)
        # Input-derived state-partition count (see _stream_shuffle_
        # partitions): the in-stream dedup rung holds one RocksDB store
        # per state partition per batch, and the foreachBatch merge's
        # groupBy inherits the same right-sized shuffle. 4 slices at
        # maxFilesPerTrigger=1 -> per-batch rows = total/4.
        _run_to_table(
            spark, _ladder_stream(spark, indir), foreach_batch=merge_batch,
            n_rows=corpus_rows(sf_dir, "documents") // 4,
        )
        final_map = spark.read.parquet(
            os.path.join(map_dir, f"v{state['version']}")
        )
        doc_log = spark.read.parquet(os.path.join(docs_dir, "b*"))
        return (
            doc_log.join(final_map, "h")
            .select(
                "doc_id",
                "canonical_id",
                F.when(F.col("doc_id") == F.col("canonical_id"), F.lit("kept"))
                .otherwise(F.lit("exact_dup"))
                .alias("status"),
                "n_copies",
            )
            .orderBy("doc_id")
            .localCheckpoint(eager=True)  # workdir is deleted below
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# --- streaming materialized-view maintenance (round 11) -------------------

def _mv_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic orders changelog as per-customer DELTA rows (the
    same I/U/D construction as operators/cdc.py::source_cdc_diff /
    mv_incremental_refresh), stamped with a key-monotone ingest time so
    the slices arrive chronologically."""
    from opencode_hive_archon_spark.operators.cdc import (
        CDC_DEL_MOD,
        CDC_INS_MOD,
        CDC_INS_OFFSET,
        CDC_UPD_MOD,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    key = F.col("o_orderkey")
    deletes = orders.where(key % CDC_DEL_MOD == 0).select(
        key.alias("key"), F.lit("delete").alias("op"), "o_custkey",
        F.lit(-1).alias("dn"), dec(-F.col("o_totalprice")).alias("dp"),
    )
    updates = orders.where(
        (key % CDC_DEL_MOD != 0) & (key % CDC_UPD_MOD == 0)
    ).select(
        key.alias("key"), F.lit("update").alias("op"), "o_custkey",
        F.lit(0).alias("dn"), dec(F.col("o_totalprice")).alias("dp"),
    )
    inserts = orders.where(
        (key % CDC_DEL_MOD != 0) & (key % CDC_INS_MOD == 0)
    ).select(
        (key + CDC_INS_OFFSET).alias("key"), F.lit("insert").alias("op"),
        "o_custkey", F.lit(1).alias("dn"), dec(F.col("o_totalprice")).alias("dp"),
    )
    log = deletes.unionByName(updates).unionByName(inserts)
    return log.withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(_LADDER_EPOCH) + F.col("key").cast("long")),
    )


def _mv_sliced_changelog(spark: SparkSession, sf_dir: str, workdir: str,
                         replay_slice: int | None = 2) -> str:
    from pyspark.sql import Window

    sliced = _mv_changelog(spark, sf_dir).withColumn(
        "slice", F.ntile(4).over(Window.orderBy("key"))
    )
    return _write_time_slices(sliced, workdir, replay_slice)


def _mv_stream(spark: SparkSession, indir: str) -> DataFrame:
    """The in-stream rung of MV maintenance: watermark + exact duplicate-
    delivery drop keyed on (key, op) — every copy of a changelog row
    carries identical deltas, so the drop is arrival-order-invariant and
    the downstream delta application is exactly-once over an
    at-least-once source (deltas are NOT idempotent, so this rung is what
    makes the foreachBatch merge safe: the Delta MV's txn only guards a
    retried batch, not a row delivered twice across batches)."""
    return (
        _parquet_stream(spark, indir, one_file_per_trigger=True)
        .withWatermark("ingest_ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["key", "op"])
    )


N_MV_BUCKETS = 16
"""Hash-bucket fan-out of the persistent MV, which is a Delta table
partitioned by ``bucket``. Locally 16; at production scale this is sized
so one bucket ~ one task's worth of MV rows (e.g. 4096 buckets for a
10^9-customer MV), making per-batch merge cost O(batch churn + rows in
AFFECTED buckets), not O(|MV|)."""


def _mv_bucket(col):
    """Deterministic customer->bucket assignment (shared by seed, delta,
    and merge so a customer's row always lives in exactly one bucket)."""
    return F.pmod(F.xxhash64(col), F.lit(N_MV_BUCKETS)).cast("int")


def _mv_merge_batch(spark: SparkSession, mv_dir: str, bdf: DataFrame,
                    batch_id: int) -> None:
    """One churn-proportional MERGE of a changelog micro-batch into the
    bucket-partitioned Delta MV: read ONLY the buckets the batch touches
    (partition pruning), merge, and commit them with a dynamic partition
    overwrite. Untouched buckets keep their add entries and files
    (pinned by tests/test_streaming_state.py::test_mv_merge_churn_
    proportional). The commit carries ``txn=("mv", batch_id)``: a retry
    of a batch that committed is skipped by the writer, and a retry of
    one that did not reads the same previous version and recomputes the
    same buckets, so the delta is applied exactly once."""
    # Materialize the churn-sized aggregate ONCE (also cuts the streaming
    # lineage, so callers need not checkpoint the raw batch): `delta` is
    # referenced twice below (affected-bucket collect + merge union), and
    # each lazy reference re-ran the batch groupBy (guide §1.2 step 1).
    # One pass over the batch instead of three (raw checkpoint + 2x agg);
    # sums are associative, so the merged numbers are unchanged.
    delta = (
        bdf.groupBy("o_custkey")
        .agg(
            F.sum("dn").cast("long").alias("n_orders"),
            F.sum("dp").cast("decimal(18,2)").alias("total"),
        )
        .withColumn("bucket", _mv_bucket(F.col("o_custkey")))
        .localCheckpoint(eager=True)
    )
    # Affected-bucket set: bounded by N_MV_BUCKETS, a metadata-sized
    # collect (at production scale: thousands of ints, still tiny).
    affected = sorted(
        r["bucket"] for r in delta.select("bucket").distinct().collect()
    )
    if not affected:
        return
    prev = delta_scan(
        spark, mv_dir, " OR ".join(f"bucket = {b}" for b in affected)
    )
    # ONE exchange (r19): repartition by bucket BEFORE the
    # groupBy — hash-partitioning on `bucket` (a subset of the grouping
    # keys) already satisfies the aggregation's clustering requirement,
    # so the agg runs in the repartition's partitions instead of adding
    # a second exchange, and every bucket still lands in exactly one
    # task (one parquet file per bucket, not shuffle-partitions x
    # buckets shards). Groups and sums are unchanged.
    merged = (
        prev.select("o_custkey", "n_orders", "total", "bucket")
        .unionByName(delta)
        .repartition(F.col("bucket"))
        .groupBy("o_custkey", "bucket")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total").cast("decimal(18,2)").alias("total"),
        )
    )
    delta_write(
        spark, merged, mv_dir, mode="overwrite_partitions",
        txn=("mv", batch_id),
    )


def _mv_seed(spark: SparkSession, sf_dir: str, mv_dir: str,
             orders: DataFrame | None = None) -> None:
    """Create the MV as version 0 of a Delta table partitioned by
    ``bucket`` from ``orders`` — any frame with ``o_custkey`` and
    ``o_totalprice``; by default the orders table of ``sf_dir``."""
    if orders is None:
        orders = read_table(spark, sf_dir, "orders")
    # One exchange: bucket is a pure function of o_custkey, so hash-
    # partitioning on it satisfies the groupBy's clustering requirement
    # (bucket rides the grouping keys) — no second repartition before the
    # bucket-partitioned write (r19, guide §2.4; groups unchanged).
    seed = (
        orders.select("o_custkey", "o_totalprice")
        .withColumn("bucket", _mv_bucket(F.col("o_custkey")))
        .repartition(F.col("bucket"))
        .groupBy("o_custkey", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
        )
    )
    delta_write(spark, seed, mv_dir, partition_by=["bucket"])


def _mv_result(spark: SparkSession, mv_dir: str) -> DataFrame:
    """The MV's latest snapshot as the streaming MV queries' result:
    live customers with their order count and total, lineage cut because
    the caller deletes ``mv_dir``."""
    return (
        delta_snapshot(spark, mv_dir)
        .where(F.col("n_orders") > 0)
        .select(
            "o_custkey", "n_orders",
            F.col("total").cast("double").alias("total_price"),
        )
        .orderBy("o_custkey")
        .localCheckpoint(eager=True)
    )


def stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leg of ``mv_incremental_refresh`` (VERDICT r10 #8): the
    per-customer aggregate MV is maintained INCREMENTALLY from the CDC
    changelog stream — micro-batches of I/U/D delta rows (plus a replayed
    at-least-once slice) merge into a persistent hash-bucketed MV table
    via foreachBatch:

        mv' = (mv[affected buckets] ∪ batch groupBy custkey -> (Σdn, Σdp))
              groupBy custkey -> (Σ, Σ)

    Sums are associative+commutative (counts long, money DECIMAL(18,2)),
    so the final MV is independent of batching, and the oracle — a FULL
    RECOMPUTE over the mutated snapshot, the identical SQL
    mv_incremental_refresh is gated on — is an exact check: streaming
    delta-merge ≡ batch delta-merge ≡ recompute. Per-batch cost is
    O(batch churn + rows in affected buckets): the MV is a Delta table
    (sources/deltalog.py) partitioned by a customer hash-bucket
    (N_MV_BUCKETS); each batch reads only the buckets its delta touches
    (partition pruning) and commits only those buckets with a dynamic
    partition overwrite. Untouched buckets are never read or rewritten.
    The commit carries the batch's txn, so a retried batch is applied
    exactly once (_mv_merge_batch).

    Exactly-once over the at-least-once source is two complementary
    rungs, both load-bearing: a redelivered row that is still WITHIN the
    watermark is dropped by dropDuplicatesWithinWatermark's (key, op)
    state; one that arrives BELOW the watermark (as the replayed slice 2
    does here — its event times sit ~1e9 s behind the watermark the
    slice-4 CDC insert keys advanced) is dropped by the late-data filter
    before the dedup state is even consulted (ADVICE r11 #2;
    tests/test_streaming_state.py asserts numRowsDroppedByWatermark > 0
    for the replay batch)."""
    from opencode_hive_archon_spark.operators.similarity import corpus_rows

    workdir = tempfile.mkdtemp(prefix="mv_stream_")
    mv_dir = os.path.join(workdir, "mv")

    def merge_batch(bdf: DataFrame, batch_id: int) -> None:
        # No raw-batch checkpoint: _mv_merge_batch consumes bdf exactly
        # once (its churn-sized `delta` aggregate is the eager
        # materialization point), so the batch is computed in ONE pass.
        _mv_merge_batch(bdf.sparkSession, mv_dir, bdf, batch_id)

    try:
        _mv_seed(spark, sf_dir, mv_dir)
        indir = _mv_sliced_changelog(spark, sf_dir, workdir)
        # Input-derived state partitions for the dedup rung + foreachBatch
        # merge shuffles (see _stream_shuffle_partitions): 4 slices at
        # maxFilesPerTrigger=1 -> per-batch rows = total/4, with orders'
        # footer row count as the scale proxy (the changelog is a bounded
        # fraction of orders).
        _run_to_table(
            spark, _mv_stream(spark, indir), foreach_batch=merge_batch,
            n_rows=corpus_rows(sf_dir, "orders") // 4,
        )
        return _mv_result(spark, mv_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _cdf_stream(spark: SparkSession, table: str, **options) -> DataFrame:
    """readStream over the delta table's change feed (the
    ``delta_cdf_stream`` source of sources/deltalog.py)."""
    spark.dataSource.register(DeltaCdfStreamSource)
    return (
        spark.readStream.format("delta_cdf_stream")
        .options(path=table, **options)
        .load()
    )


def _cdf_sign():
    """+1 for a change feed's inserted rows, -1 for its deleted rows."""
    return F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))


def _cdf_signed_sums(spark: SparkSession, table: str, group_col: str) -> DataFrame:
    """The table's whole change feed, drained into a memory sink, summed
    signed per ``group_col``: ``(n_rows, key_sum, price_cents)`` over the
    orders columns. Carried rows of a rewrite cancel, so the sums equal
    the same aggregate over the final snapshot."""
    sign = _cdf_sign()
    return (
        _run_to_table(spark, _cdf_stream(spark, table))
        .groupBy(group_col)
        .agg(
            F.sum(sign).alias("n_rows"),
            F.sum(sign * F.col("o_orderkey")).alias("key_sum"),
            F.sum(
                sign * F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
            ).alias("price_cents"),
        )
        .orderBy(group_col)
    )


CDFMV_SLICE_MOD = 3          # v0 seed: orders with o_orderkey ≡ 0 (mod 3)
CDFMV_APPEND_MOD = 50        # v1 append: clones of keys ≡ 0 (mod 50)
CDFMV_APPEND_OFFSET = 20_000_000_000
CDFMV_APPEND_BONUS = 1000.0  # appended rows: price + 1000 (exact in double)
CDFMV_DELETE_FLOOR = 450_000.0   # v2: DELETE WHERE price >= floor
CDFMV_UPD_MOD, CDFMV_UPD_REM = 10, 3   # v3 MERGE: update keys ≡3 (mod 10)
CDFMV_INS_MOD = 97                     # v3 MERGE: clone keys ≡0 (mod 97)
CDFMV_INS_OFFSET = 10_000_000_000


def stream_delta_cdf_mv(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """MV maintenance fed by the DELTA LOG's change feed (VERDICT r15
    #4): where stream_mv_maintenance consumes a hand-built CDC directory,
    this job seeds the per-customer MV from a delta table's v0 snapshot
    and then TAILS THE TRANSACTION LOG itself — readStream over the
    `delta_cdf_stream` source (sources/deltalog.py), which serves every
    dataChange add/remove file in (startingVersion, head] as tagged
    insert/delete rows. The log IS the changelog: APPEND, DELETE and
    MERGE commits (v1..v3 here) flow through the same foreachBatch
    delta-merge into the bucket-partitioned Delta MV (_mv_merge_batch:
    partition-pruned bucket reads, a dynamic partition overwrite of the
    affected buckets, the batch's txn as the retry guard).

    File-level CDF classes are sufficient — and exactly right — for an
    associative consumer: signed deltas (+1/+price for insert, -1/-price
    for delete) make a copy-on-write rewrite's carried rows cancel
    pairwise, so MV state is invariant to rewrite granularity, and the
    oracle (FULL RECOMPUTE of the view over the mutated snapshot,
    reconstructed relationally) is an exact hash check: log-tailing
    delta-merge ≡ recompute. Sums ride DECIMAL(18,2) per the conventions.

    Scale shape: per batch, the stream reads ONLY the files the tailed
    commits touched (churn), and the merge reads/writes ONLY affected MV
    buckets — O(churn + affected buckets), never O(table) or O(MV);
    OPTIMIZE commits (dataChange: false) are skipped at the source."""
    from opencode_hive_archon_spark.operators.similarity import corpus_rows

    workdir = tempfile.mkdtemp(prefix="cdfmv_stream_")
    table = os.path.join(workdir, "tbl")
    mv_dir = os.path.join(workdir, "mv")
    try:
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        s0 = orders.filter(F.col("o_orderkey") % CDFMV_SLICE_MOD == 0)
        delta_write(spark, s0.repartition(4), table)
        _mv_seed(spark, sf_dir, mv_dir, delta_snapshot(spark, table, version=0))
        # v1 APPEND: cloned late-arriving orders.
        appended = s0.filter(
            F.col("o_orderkey") % CDFMV_APPEND_MOD == 0
        ).select(
            (F.col("o_orderkey") + F.lit(CDFMV_APPEND_OFFSET))
            .alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") + F.lit(CDFMV_APPEND_BONUS))
            .alias("o_totalprice"),
        )
        delta_write(spark, appended.repartition(1), table, mode="append")
        # v2 copy-on-write DELETE.
        delta_delete(
            spark, table, f"o_totalprice >= {CDFMV_DELETE_FLOOR}"
        )
        # v3 MERGE: matched updates + not-matched clones, both built
        # from the CURRENT snapshot so the oracle can reconstruct them.
        t2 = delta_snapshot(spark, table).localCheckpoint(eager=True)
        updates = t2.filter(
            F.col("o_orderkey") % CDFMV_UPD_MOD == CDFMV_UPD_REM
        ).select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        inserts = t2.filter(F.col("o_orderkey") % CDFMV_INS_MOD == 0).select(
            (F.col("o_orderkey") + F.lit(CDFMV_INS_OFFSET))
            .alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") * 3).alias("o_totalprice"),
        )
        delta_merge(
            spark, table, updates.unionByName(inserts), on=["o_orderkey"]
        )

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            # No raw-batch checkpoint: the signed projection feeds
            # _mv_merge_batch's single eager materialization point, so
            # each micro-batch's change files are read exactly ONCE.
            sign = _cdf_sign()
            delta = bdf.select(
                "o_custkey",
                sign.alias("dn"),
                (sign * F.col("o_totalprice")).cast("decimal(18,2)").alias("dp"),
            )
            _mv_merge_batch(bdf.sparkSession, mv_dir, delta, batch_id)

        options = {"startingVersion": 0}
        if max_files_per_trigger is not None:
            # Rate-limited: (version, file) offsets cap each micro-batch
            # at that many change files; the default micro-batch trigger
            # (not availableNow) lets processAllAvailable drain the
            # backlog across MULTIPLE bounded batches.
            options["maxFilesPerTrigger"] = max_files_per_trigger
        # Right-size every foreachBatch merge shuffle from the TABLE's
        # scale (the per-batch churn is a fraction of it) — the tailed
        # stream itself is stateless, but each batch's groupBy/repartition
        # jobs otherwise run at the session's cluster-sized constant.
        _run_to_table(
            spark, _cdf_stream(spark, table, **options),
            foreach_batch=merge_batch,
            n_rows=corpus_rows(sf_dir, "orders") // CDFMV_SLICE_MOD,
            available_now=max_files_per_trigger is None,
        )
        return _mv_result(spark, mv_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def stream_delta_cdf_mv_ratelimited(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME log-tailing MV maintenance as stream_delta_cdf_mv, but
    rate-limited to TWO change files per micro-batch
    (maxFilesPerTrigger=2, r17): the burst of append/delete/merge
    commits drains across many bounded batches instead of one, with
    batch boundaries landing mid-commit (the seed commit alone spans
    two batches). Sharing
    stream_delta_cdf_mv's oracle string makes the driver's hash check a
    PROOF of batching invariance — the signed-delta merge is
    associative, so MV state cannot depend on where batch boundaries
    fall, even mid-commit.

    Scale shape: rate limiting bounds per-batch memory/shuffle at the
    cost of more batches — the knob a 100 TB backlog catch-up needs."""
    return stream_delta_cdf_mv(spark, sf_dir, max_files_per_trigger=2)


CDFP_SLICE_MOD = 4        # table = orders with o_orderkey ≡ 3 (mod 4)
CDFP_APPEND_MOD = 9       # appended clones: keys ≡ 0 (mod 9)
CDFP_APPEND_OFFSET = 900_000_000
CDFP_DELETE_FLOOR = 300_000.0


def stream_delta_cdf_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDF streaming over a PARTITIONED delta table (r17): the
    delta_cdf_stream source injects each change file's partition
    column from its action's partitionValues as an Arrow constant
    (remove actions carry partitionValues too, so delete-side rows are
    attributed correctly). An append and a copy-on-write delete flow
    through; the signed per-priority aggregate of the feed must equal
    the full recompute of the mutated snapshot — carried rows cancel.

    Scale shape: per batch the stream reads only the files the tailed
    commits touched; partition injection is a constant column per Arrow
    batch, no dir-name parsing, no Python row loop."""
    workdir = tempfile.mkdtemp(prefix="cdfpart_stream_")
    table = os.path.join(workdir, "tbl")
    try:
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        s0 = orders.filter(F.col("o_orderkey") % CDFP_SLICE_MOD == 3)
        delta_write(
            spark, s0.repartition(2), table,
            partition_by=["o_orderpriority"],
        )
        appended = s0.filter(
            F.col("o_orderkey") % CDFP_APPEND_MOD == 0
        ).select(
            (F.col("o_orderkey") + F.lit(CDFP_APPEND_OFFSET))
            .alias("o_orderkey"),
            "o_totalprice",
            "o_orderpriority",
        )
        delta_write(spark, appended.repartition(1), table, mode="append")
        delta_delete(
            spark, table, f"o_totalprice >= {CDFP_DELETE_FLOOR}"
        )
        return _cdf_signed_sums(spark, table, "o_orderpriority")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_ORACLE_CDFP = f"""
WITH s0 AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderkey % {CDFP_SLICE_MOD} = 3
),
t1 AS (
  SELECT * FROM s0
  UNION ALL
  SELECT o_orderkey + {CDFP_APPEND_OFFSET}, o_totalprice, o_orderpriority
  FROM s0 WHERE o_orderkey % {CDFP_APPEND_MOD} = 0
),
t2 AS (
  SELECT * FROM t1 WHERE NOT (o_totalprice >= {CDFP_DELETE_FLOOR})
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM t2
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


CDFDV_SLICE_MOD = 6       # table = orders with o_orderkey ≡ 1 (mod 6)
CDFDV_DEL1_MOD = 7        # first DV delete: keys ≡ 0 (mod 7)
CDFDV_DEL2_MOD = 5        # second DV delete: keys ≡ 0 (mod 5) — supersedes


def stream_delta_cdf_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF streaming over DELETION-VECTOR commits (r17): two
    merge-on-read DELETEs never rewrite a data file — each commit
    supersedes (file, DV) incarnations — and the stream serves each
    incarnation's LIVE rows via a positional Arrow filter, so the
    delete+insert sides of a supersede cancel down to exactly the
    newly-dead rows. The signed per-status aggregate of the whole feed
    must equal the full recompute of the final snapshot.

    Scale shape: per batch the stream reads the touched files once and
    applies a positional mask — no row-index join, no Python row loop;
    a wide DV delete streams as one masked re-read of its hit files."""
    workdir = tempfile.mkdtemp(prefix="cdfdv_stream_")
    table = os.path.join(workdir, "tbl")
    try:
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        s0 = orders.filter(F.col("o_orderkey") % CDFDV_SLICE_MOD == 1)
        delta_write(spark, s0.repartition(2), table)
        delta_delete(
            spark, table, f"o_orderkey % {CDFDV_DEL1_MOD} = 0", use_dv=True
        )
        delta_delete(
            spark, table, f"o_orderkey % {CDFDV_DEL2_MOD} = 0", use_dv=True
        )
        return _cdf_signed_sums(spark, table, "o_orderstatus")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_ORACLE_CDFDV = f"""
WITH live AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % {CDFDV_SLICE_MOD} = 1
    AND o_orderkey % {CDFDV_DEL1_MOD} <> 0
    AND o_orderkey % {CDFDV_DEL2_MOD} <> 0
)
SELECT o_orderstatus,
       count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM live
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# Oracle: FULL RECOMPUTE of the per-customer view over the mutated
# snapshot, reconstructed relationally commit by commit (append -> delete
# -> merge) — log-tailing delta-merge must equal it exactly.
_ORACLE_CDFMV = f"""
WITH s0 AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  WHERE o_orderkey % {CDFMV_SLICE_MOD} = 0
),
t1 AS (
  SELECT * FROM s0
  UNION ALL
  SELECT o_orderkey + {CDFMV_APPEND_OFFSET}, o_custkey,
         o_totalprice + {CDFMV_APPEND_BONUS}
  FROM s0 WHERE o_orderkey % {CDFMV_APPEND_MOD} = 0
),
t2 AS (
  SELECT * FROM t1 WHERE NOT (o_totalprice >= {CDFMV_DELETE_FLOOR})
),
t3 AS (
  SELECT o_custkey,
         CASE WHEN o_orderkey % {CDFMV_UPD_MOD} = {CDFMV_UPD_REM}
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM t2
  UNION ALL
  SELECT o_custkey, o_totalprice * 3
  FROM t2 WHERE o_orderkey % {CDFMV_INS_MOD} = 0
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM t3
GROUP BY o_custkey
ORDER BY o_custkey
"""


# The batch exact rung: replay-invariance of the stream makes this exact.
_ORACLE_DEDUP_LADDER = """
WITH hashed AS (
  SELECT doc_id,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
  FROM documents
),
m AS (
  SELECT h, min(doc_id) AS canonical_id, count(*) AS n_copies
  FROM hashed GROUP BY h
)
SELECT d.doc_id, m.canonical_id,
       CASE WHEN d.doc_id = m.canonical_id THEN 'kept'
            ELSE 'exact_dup' END AS status,
       m.n_copies
FROM hashed d JOIN m USING (h)
ORDER BY d.doc_id
"""


def _mv_oracle() -> str:
    """The streaming MV's oracle IS the batch MV's oracle (full recompute
    over the mutated snapshot): streaming delta-merge ≡ batch delta-merge
    ≡ recompute, one SQL string gating all three."""
    from opencode_hive_archon_spark.operators.cdc import _ORACLE_MV

    return _ORACLE_MV


SPECS = [
    QuerySpec("stream_mv_maintenance", stream_mv_maintenance, _mv_oracle(),
              "streaming",
              "streaming MV maintenance: CDC changelog micro-batches (incl. "
              "a replayed at-least-once slice) merged into a versioned "
              "persistent per-customer MV via foreachBatch — "
              "batching-invariant associative deltas, oracle = full "
              "recompute (shared with mv_incremental_refresh)"),
    QuerySpec("stream_delta_cdf_mv", stream_delta_cdf_mv, _ORACLE_CDFMV,
              "streaming",
              "MV maintenance tailing the delta transaction log itself: "
              "readStream over the delta_cdf_stream source feeds "
              "append/delete/merge commits as signed deltas into the "
              "bucketed foreachBatch MV merge — oracle = full recompute "
              "of the mutated snapshot"),
    QuerySpec("stream_delta_cdf_mv_ratelimited",
              stream_delta_cdf_mv_ratelimited, _ORACLE_CDFMV,
              "streaming",
              "the same log-tailing MV maintenance rate-limited to TWO "
              "change files per micro-batch (maxFilesPerTrigger) — "
              "sharing the unlimited run's oracle hash-proves batching "
              "invariance, boundaries falling mid-commit included"),
    QuerySpec("stream_delta_cdf_partitioned", stream_delta_cdf_partitioned,
              _ORACLE_CDFP,
              "streaming",
              "CDF streaming over a PARTITIONED delta table: partition "
              "columns injected per change file from action "
              "partitionValues (remove side included) — signed "
              "per-partition aggregate equals full recompute"),
    QuerySpec("stream_delta_cdf_dv", stream_delta_cdf_dv, _ORACLE_CDFDV,
              "streaming",
              "CDF streaming over DELETION-VECTOR commits: each "
              "incarnation served as its live rows via a positional "
              "Arrow filter, supersedes cancel to the newly-dead rows — "
              "signed per-status aggregate equals full recompute"),
    QuerySpec("stream_dedup_ladder", stream_dedup_ladder, _ORACLE_DEDUP_LADDER,
              "streaming",
              "incremental exact-dedup ingest: watermarked duplicate-"
              "delivery drop + foreachBatch merge into a persistent "
              "canonical digest map (batching-invariant, oracle-exact)"),
    QuerySpec("stream_ohlc_bars", stream_ohlc_bars, _ORACLE_STREAM_OHLC,
              "streaming", "hourly OHLC bars with O(1) min_by/max_by bar "
              "state over a packed (micros, event_id) order key, "
              "watermark-closed"),
    QuerySpec("stream_stateful_user_stats", stream_stateful_user_stats, _ORACLE_STATEFUL,
              "streaming", "applyInPandasWithState per-user running profile"),
    QuerySpec("stream_tumbling_counts", stream_tumbling_counts, _ORACLE_TUMBLING,
              "streaming", "5-min tumbling windows, watermark-closed"),
    QuerySpec("stream_sliding_avg", stream_sliding_avg, _ORACLE_SLIDING,
              "streaming", "10/5-min sliding window averages"),
    QuerySpec("stream_session_windows", stream_session_windows, _ORACLE_SESSION,
              "streaming", "30-min-gap session windows per user"),
    QuerySpec("stream_dedup", stream_dedup, _ORACLE_STREAM_DEDUP,
              "streaming", "streaming dedup within watermark (key set)"),
    QuerySpec("stream_late_data", stream_late_data, None,
              "streaming", "late-data drop via watermark (rows-only)"),
    QuerySpec("stream_static_join", stream_static_join, _ORACLE_STREAM_STATIC_JOIN,
              "streaming", "stream x static dimension enrichment join + windowed agg"),
    QuerySpec("stream_stream_join", stream_stream_join, _ORACLE_STREAM_STREAM_JOIN,
              "streaming", "watermarked stream-stream interval self-join (funnel pairs)"),
    QuerySpec("stream_foreachbatch_sink", stream_foreachbatch_sink, _ORACLE_FOREACHBATCH,
              "streaming", "foreachBatch idempotent parquet sink + read-back aggregate"),
]
