"""Bounded-state evidence for stateful streaming (the 100 TB posture).

The correctness gates drive every streaming job single-batch, which proves
semantics but says nothing about STATE: a stream-stream join or session
window that never evicts works fine for one batch and OOMs on day three of
a production run. These tests drive the same transformations (shared with
the registered jobs — funnel_join / session_windows_agg) through a
MULTI-batch time-ordered source (maxFilesPerTrigger=1) and assert, from the
query progress metrics, that

* the RocksDB state-store provider (pinned session-wide in session.get_spark)
  is actually in effect,
* watermark eviction removes rows from the store as batches advance
  (numRowsRemoved > 0), and state stays bounded below the full input —
  i.e. the store holds a sliding watermark-width slice, not history,
* the multi-batch result is exactly the single-batch / batch-oracle result
  (batching is invisible in the output).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from opencode_hive_archon_spark.session import normalize_timestamps
from opencode_hive_archon_spark.streaming import jobs as J


def _events_batch(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_timestamps(ev)


@pytest.fixture(scope="module")
def sliced_events(spark, sf_dir):
    """events split into 4 time-ordered parquet slices with ascending
    mtimes, so maxFilesPerTrigger=1 replays them as 4 chronological
    micro-batches (the shape a live source produces)."""
    from pyspark.sql import Window

    ev = _events_batch(spark, sf_dir)
    sliced = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts"))
    )
    workdir = tempfile.mkdtemp(prefix="state_slices_")
    indir = os.path.join(workdir, "in")
    os.makedirs(indir)
    for i in range(1, 5):
        tmp = os.path.join(workdir, f"w{i}")
        sliced.filter(F.col("slice") == i).drop("slice").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(indir, f"{i:04d}.parquet")
        shutil.copy(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    yield indir
    shutil.rmtree(workdir, ignore_errors=True)


def _run_multibatch(spark, agg, name):
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    return progress


def _stream_src(spark, indir, per_trigger: int | None):
    schema = spark.read.parquet(indir).schema
    reader = spark.readStream.schema(schema)
    if per_trigger:
        reader = reader.option("maxFilesPerTrigger", per_trigger)
    return normalize_timestamps(reader.parquet(indir))


def _state_ops(progress):
    return [op for p in progress if p["numInputRows"] for op in p["stateOperators"]]


def test_rocksdb_provider_in_effect(spark):
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_registered_queries_pin_rocksdb_on_foreign_sessions(spark, sf_dir):
    """The driver contract hands the queries a session IT built (no RocksDB
    conf). The registered streaming jobs must pin the provider themselves:
    simulate by unsetting the conf on this session and running a registered
    stateful query end-to-end — the conf must be back in force (and the
    query green) without get_spark's help."""
    from opencode_hive_archon_spark.streaming import jobs as J

    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(key)
    try:
        assert "RocksDB" not in spark.conf.get(key)  # default provider
        out = J.stream_tumbling_counts(spark, sf_dir)
        assert out.count() > 0
        assert "RocksDBStateStoreProvider" in spark.conf.get(key)
    finally:
        spark.conf.set(key, J._ROCKSDB_PROVIDER)


def test_stream_stream_join_state_bounded(spark, sf_dir, sliced_events):
    joined = J.funnel_join(
        _stream_src(spark, sliced_events, 1), _stream_src(spark, sliced_events, 1)
    )
    progress = _run_multibatch(spark, joined, "state_test_join")
    batches = [p for p in progress if p["numInputRows"]]
    assert len(batches) >= 3, "multi-batch arrival did not happen"

    ops = _state_ops(progress)
    assert sum(op["numRowsRemoved"] for op in ops) > 0, (
        "watermark never evicted join state"
    )
    ev = _events_batch(spark, sf_dir)
    n_events = ev.count()
    peak = max(op["numRowsTotal"] for op in ops)
    # both join sides buffer rows only until the watermark passes
    # lead_ts + window; with 4 time-ordered batches the peak must stay
    # well below the full two-sided input (2 * n_events)
    assert peak < 2 * n_events, f"state never bounded: peak={peak}, input={n_events}"

    # batching must be invisible in the output: exact match vs batch self-join
    a = ev.select(
        F.col("event_id").alias("lead_id"),
        "user_id",
        F.unix_micros("ts").alias("lus"),
    )
    b = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("fu"),
        F.unix_micros("ts").alias("fus"),
    )
    expected = {
        (r["lead_id"], r["follow_id"])
        for r in a.join(
            b,
            (F.col("user_id") == F.col("fu"))
            & (F.col("fus") > F.col("lus"))
            & (F.col("fus") <= F.col("lus") + J.STREAM_JOIN_WINDOW_S * 1_000_000),
        ).collect()
    }
    got = {
        (r["lead_id"], r["follow_id"])
        for r in spark.table("state_test_join").collect()
    }
    assert got == expected


def test_session_windows_state_bounded(spark, sf_dir, sliced_events):
    agg = J.session_windows_agg(_stream_src(spark, sliced_events, 1))
    progress = _run_multibatch(spark, agg, "state_test_sessions")
    batches = [p for p in progress if p["numInputRows"]]
    assert len(batches) >= 3

    ops = _state_ops(progress)
    assert sum(op["numRowsRemoved"] for op in ops) > 0, (
        "watermark never closed/evicted session state"
    )

    # multi-batch result == the registered single-batch job's result
    single = J.stream_session_windows(spark, sf_dir)
    key = lambda r: (
        r["user_id"],
        r["session_start"],
        r["session_end"],
        r["n_events"],
        r["total_value"],
    )
    got = sorted(
        (r["user_id"], r["session_window"]["start"], r["session_window"]["end"],
         r["n_events"], r["total_value"])
        for r in spark.table("state_test_sessions").collect()
    )
    expected = sorted(key(r) for r in single.collect())
    assert got == expected


@pytest.fixture(scope="module")
def ladder_indir(spark, sf_dir):
    """The dedup ladder's sliced-doc input (4 chronological slices + a
    byte-identical replay of slice 2), torn down after the module."""
    workdir = tempfile.mkdtemp(prefix="ladder_state_")
    yield J._ladder_sliced_docs(spark, sf_dir, workdir)
    shutil.rmtree(workdir, ignore_errors=True)


def test_dedup_ladder_state_bounded(spark, ladder_indir):
    """The in-stream rung's dedup state must EVICT on watermark advance
    (numRowsRemoved > 0) and never hold the whole corpus at once — the
    property that makes the ladder runnable on an unbounded ingest feed."""
    agg = J._ladder_stream(spark, ladder_indir)
    progress = _run_multibatch(spark, agg, "ladder_state_probe")
    ops = _state_ops(progress)
    assert ops, "no stateful operator progress captured"
    assert sum(op["numRowsRemoved"] for op in ops) > 0, (
        "watermark never evicted dedup state"
    )
    n_docs = spark.read.parquet(ladder_indir).select("doc_id").distinct().count()
    peak = max(op["numRowsTotal"] for op in ops)
    assert peak < n_docs, (
        f"dedup state ({peak}) held the entire corpus ({n_docs})"
    )


def test_dedup_ladder_replay_suppressed(spark, ladder_indir):
    """At-least-once redelivery (the replayed slice) must contribute ZERO
    rows downstream: the deduped stream yields each (h, doc_id) exactly
    once, so the merge's counts cannot double."""
    agg = J._ladder_stream(spark, ladder_indir)
    name = "ladder_replay_probe"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    n_distinct = spark.read.parquet(ladder_indir).select("doc_id").distinct().count()
    assert out.count() == n_distinct
    assert out.groupBy("doc_id").count().filter("count > 1").isEmpty()


@pytest.fixture(scope="module")
def mv_indir(spark, sf_dir):
    """The MV-maintenance changelog input (4 chronological slices + a
    byte-identical replay of slice 2), torn down after the module."""
    workdir = tempfile.mkdtemp(prefix="mv_state_")
    yield J._mv_sliced_changelog(spark, sf_dir, workdir)
    shutil.rmtree(workdir, ignore_errors=True)


def test_mv_stream_state_bounded(spark, mv_indir):
    """The MV stream's dedup rung must evict on watermark advance and never
    hold the whole changelog — deltas are NOT idempotent, so this rung is
    the exactly-once guarantee of the maintenance loop.

    Exactly-once here is TWO rungs (ADVICE r11 #2): a redelivery within
    the watermark is deduped by (key, op) state; the replayed slice 2 of
    this fixture arrives BELOW the watermark (slice 4's CDC insert keys
    pushed it ~1e9 s past slice-2 event times) and is dropped by the
    late-data filter instead. Both are asserted so a data-layout change
    that shifts the watermark geometry can't silently change the
    mechanism without this test noticing."""
    agg = J._mv_stream(spark, mv_indir)
    progress = _run_multibatch(spark, agg, "mv_state_probe")
    ops = _state_ops(progress)
    assert ops, "no stateful operator progress captured"
    assert sum(op["numRowsRemoved"] for op in ops) > 0, (
        "watermark never evicted MV dedup state"
    )
    n_rows = spark.read.parquet(mv_indir).select("key", "op").distinct().count()
    peak = max(op["numRowsTotal"] for op in ops)
    assert peak < n_rows, (
        f"MV dedup state ({peak}) held the entire changelog ({n_rows})"
    )
    # the replayed below-watermark slice must be suppressed by the
    # late-data drop (the second exactly-once rung)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0) for op in ops
    )
    assert dropped > 0, (
        "replayed slice was never dropped as late data — the watermark "
        "geometry changed; verify the (key, op) dedup rung now carries it"
    )


def _mv_synth_batch(spark, custkeys):
    """A tiny changelog micro-batch touching exactly ``custkeys``."""
    rows = [(int(k), "insert", int(k), 1, 10.0) for k in custkeys]
    df = spark.createDataFrame(
        rows, "key long, op string, o_custkey long, dn int, dp double"
    )
    return df.withColumn("dp", F.col("dp").cast("decimal(18,2)"))


def _mv_rows(spark, mv_dir):
    """{o_custkey: (n_orders, total)} of the MV's latest snapshot."""
    from opencode_hive_archon_spark.sources.deltalog import delta_snapshot

    return {
        r["o_custkey"]: (r["n_orders"], float(r["total"]))
        for r in delta_snapshot(spark, mv_dir).collect()
    }


def _mv_adds(spark, mv_dir):
    """{path: (add entry, sha256 of the file)} of the live files."""
    import hashlib as H

    from opencode_hive_archon_spark.sources import deltalog as dl

    out = {}
    for f in dl._snapshot_state(spark, mv_dir)["files"]:
        with open(dl._abs_path(mv_dir, f["path"]), "rb") as fh:
            out[f["path"]] = (f, H.sha256(fh.read()).hexdigest())
    return out


def test_mv_merge_churn_proportional(spark, sf_dir):
    """A batch touching a strict subset of buckets commits
    a version that removes and adds ONLY those buckets' files, and every
    other live add entry (and its file's bytes) is unchanged — the merge
    reads and rewrites affected buckets only, O(churn), not O(|MV|)."""
    from opencode_hive_archon_spark.sources import deltalog as dl

    workdir = tempfile.mkdtemp(prefix="mv_churn_")
    try:
        mv_dir = os.path.join(workdir, "mv")
        J._mv_seed(spark, sf_dir, mv_dir)
        before = _mv_adds(spark, mv_dir)

        batch = _mv_synth_batch(spark, [1, 2])
        J._mv_merge_batch(spark, mv_dir, batch, batch_id=0)

        want_buckets = {
            str(r["b"]) for r in batch.select(
                J._mv_bucket(F.col("o_custkey")).alias("b")
            ).distinct().collect()
        }
        assert len(want_buckets) < J.N_MV_BUCKETS, "fixture must be a subset"
        assert dl.latest_version(mv_dir) == 1
        actions = dl._load_commit_actions(mv_dir, 1)
        for kind in ("add", "remove"):
            got = {
                a[kind]["partitionValues"]["bucket"]
                for a in actions if kind in a
            }
            assert got == want_buckets, (
                f"commit {kind}s touch buckets {got}, delta touched "
                f"{want_buckets}"
            )
        after = _mv_adds(spark, mv_dir)
        untouched = {
            p: v for p, v in before.items()
            if v[0]["partitionValues"]["bucket"] not in want_buckets
        }
        assert len(untouched) == len(before) - len(want_buckets)
        assert {p: v for p, v in after.items() if p in untouched} == untouched, (
            "an untouched bucket's add entry or file changed"
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_mv_merge_retry_idempotent(spark, sf_dir):
    """Committed half of the retry contract: re-running a batch_id
    whose commit landed must not double-apply the delta — the writer's
    txn watermark skips it, adding no version and changing no row."""
    from opencode_hive_archon_spark.sources import deltalog as dl

    workdir = tempfile.mkdtemp(prefix="mv_retry_")
    try:
        mv_dir = os.path.join(workdir, "mv")
        J._mv_seed(spark, sf_dir, mv_dir)
        batch = _mv_synth_batch(spark, [1, 2, 3])
        J._mv_merge_batch(spark, mv_dir, batch, batch_id=0)
        version, once = dl.latest_version(mv_dir), _mv_rows(spark, mv_dir)
        J._mv_merge_batch(spark, mv_dir, batch, batch_id=0)  # the retry
        assert dl.latest_version(mv_dir) == version, "retry added a version"
        assert _mv_rows(spark, mv_dir) == once, (
            "retry of the same batch_id changed the MV"
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_mv_merge_retry_after_failed_commit(spark, sf_dir, monkeypatch):
    """Uncommitted half of the retry contract: a batch whose commit
    failed (its files staged, no version published) is re-run by the
    stream; the retry must read the same previous version and give the
    same MV as one clean run of the batch."""
    from opencode_hive_archon_spark.sources import deltalog as dl

    workdir = tempfile.mkdtemp(prefix="mv_crash_")
    try:
        clean, crashed = (os.path.join(workdir, n) for n in ("clean", "crash"))
        batch = _mv_synth_batch(spark, [1, 2, 3])
        J._mv_seed(spark, sf_dir, clean)
        J._mv_merge_batch(spark, clean, batch, batch_id=0)

        J._mv_seed(spark, sf_dir, crashed)
        real_commit, calls = dl._commit, []

        def crash_once(table, version, actions):
            calls.append(version)
            if len(calls) == 1:
                raise OSError("crash before the commit landed")
            return real_commit(table, version, actions)

        monkeypatch.setattr(dl, "_commit", crash_once)
        with pytest.raises(OSError, match="crash before the commit"):
            J._mv_merge_batch(spark, crashed, batch, batch_id=0)
        assert dl.latest_version(crashed) == 0, "the failed commit landed"
        J._mv_merge_batch(spark, crashed, batch, batch_id=0)  # the retry
        assert calls == [1, 1]
        assert dl.latest_version(crashed) == 1
        assert _mv_rows(spark, crashed) == _mv_rows(spark, clean)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_mv_stream_equals_batch_refresh(spark, sf_dir):
    """Streaming delta-merge must equal the batch delta-merge operator
    row-for-row (both are separately gated against the full-recompute
    oracle; this pins them to each other directly)."""
    from opencode_hive_archon_spark.operators.cdc import mv_incremental_refresh

    got = {
        (r["o_custkey"], r["n_orders"], r["total_price"])
        for r in J.stream_mv_maintenance(spark, sf_dir).collect()
    }
    want = {
        (r["o_custkey"], r["n_orders"], r["total_price"])
        for r in mv_incremental_refresh(spark, sf_dir).collect()
    }
    assert got == want


def test_mv_metadata_bounded_and_compacted(spark, sf_dir):
    """Live files and the log replay must NOT grow
    O(#batches). Drive 12 single-customer batches through _mv_merge_batch
    and assert (a) live adds stay <= N_MV_BUCKETS (one file per bucket),
    (b) the log was checkpointed and a read replays fewer than
    CHECKPOINT_INTERVAL commit files, (c) values equal seed + all deltas,
    (d) the table reads the same without ``_last_checkpoint`` (the head
    hint is rebuilt from the log listing, never trusted blindly)."""
    from opencode_hive_archon_spark.sources import deltalog as dl

    workdir = tempfile.mkdtemp(prefix="mv_log_")
    try:
        mv_dir = os.path.join(workdir, "mv")
        J._mv_seed(spark, sf_dir, mv_dir)
        seed_vals = _mv_rows(spark, mv_dir)
        custkeys = list(range(1, 13))
        for bid, ck in enumerate(custkeys):
            J._mv_merge_batch(
                spark, mv_dir, _mv_synth_batch(spark, [ck]), batch_id=bid
            )
            n_live = len(dl._snapshot_state(spark, mv_dir)["files"])
            assert n_live <= J.N_MV_BUCKETS, (
                f"batch {bid}: {n_live} live files"
            )
        st = dl._snapshot_state(spark, mv_dir)
        assert st["version"] == len(custkeys)
        assert st["checkpoint_version"] is not None, "no checkpoint written"
        assert st["json_replayed"] < dl.CHECKPOINT_INTERVAL
        assert st["txns"] == {"mv": len(custkeys) - 1}

        got = _mv_rows(spark, mv_dir)
        want = dict(seed_vals)
        for ck in custkeys:
            n, t = want.get(ck, (0, 0.0))
            want[ck] = (n + 1, t + 10.0)
        assert got == want, "the merges lost or re-applied deltas"

        os.remove(os.path.join(mv_dir, dl.LOG_DIR, "_last_checkpoint"))
        assert _mv_rows(spark, mv_dir) == want
        assert dl._snapshot_state(spark, mv_dir)["version"] == len(custkeys)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_mv_empty_batch_commits_no_version(spark, sf_dir):
    """A micro-batch with no rows touches no bucket: the merge returns
    before reading the MV and commits nothing."""
    from opencode_hive_archon_spark.sources import deltalog as dl

    workdir = tempfile.mkdtemp(prefix="mv_empty_")
    try:
        mv_dir = os.path.join(workdir, "mv")
        J._mv_seed(spark, sf_dir, mv_dir)
        J._mv_merge_batch(spark, mv_dir, _mv_synth_batch(spark, []), batch_id=0)
        assert dl.latest_version(mv_dir) == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# Jobs per warm call at sf0.001, counted on 4 cores. They repeated
# exactly over 3 calls; a change that lowers one lowers it here too.
MV_JOB_BUDGET = {
    "stream_mv_maintenance": 23,
    "stream_delta_cdf_mv": 30,
    "stream_delta_cdf_mv_ratelimited": 72,
}


def test_mv_streams_job_budget(spark, sf_dir):
    """No MV stream runs more Spark jobs per warm call than its budget.
    Jobs are counted by the DAG scheduler's job-id delta over the call:
    micro-batch jobs run under the query's own job group, so counting the
    caller's group would miss them."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    got = {}
    for name in MV_JOB_BUDGET:
        fn = getattr(J, name)
        fn(spark, sf_dir)  # warm: schemas and session caches
        before = dag.numTotalJobs()
        fn(spark, sf_dir)
        got[name] = dag.numTotalJobs() - before
    over = {n: (c, MV_JOB_BUDGET[n]) for n, c in got.items()
            if c > MV_JOB_BUDGET[n]}
    assert not over, f"jobs above budget (got, budget): {over}"


def test_cdf_streams_leave_no_sink_view(spark, sf_dir):
    """The partitioned and DV change-feed streams drain into a memory
    sink whose view ``_run_to_table`` drops in its ``finally``, so a call
    leaves no name (and none of the sink's rows) behind in the session
    catalog."""
    before = {t.name for t in spark.catalog.listTables()}
    J.stream_delta_cdf_partitioned(spark, sf_dir).collect()
    J.stream_delta_cdf_dv(spark, sf_dir).collect()
    after = {t.name for t in spark.catalog.listTables()}
    assert after - before == set()


@pytest.mark.parametrize("sink", ["memory", "foreach_batch"])
def test_failed_stream_leaves_nothing_behind(
    spark, sf_dir, tmp_path, monkeypatch, sink
):
    """A streaming query that fails mid-drain leaves no sink view in the
    session catalog and no temp dir (checkpoint, foreachBatch output)
    behind: both are removed on the way out, not only on success."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    if sink == "memory":
        indir = str(tmp_path / "in")
        spark.range(20).write.parquet(indir)
        stream = spark.readStream.schema("id long").parquet(indir)

        def run():
            J._run_to_table(
                spark, stream.select(F.assert_true(F.col("id") < 0)), "append"
            )
    else:
        J._stream_events(spark, sf_dir)  # the session-kept events link dir

        def fail(self, *args, **kwargs):
            raise RuntimeError("sink write failed")

        # foreachBatch functions run in this (the driver's) Python process
        monkeypatch.setattr(DataFrameWriter, "parquet", fail)

        def run():
            J.stream_foreachbatch_sink(spark, sf_dir)

    views = {t.name for t in spark.catalog.listTables()}
    dirs = set(os.listdir(tmp))
    with pytest.raises(StreamingQueryException):
        run()
    assert {t.name for t in spark.catalog.listTables()} == views
    assert set(os.listdir(tmp)) == dirs


def test_memory_sink_result_is_not_copied(spark, sf_dir):
    """A memory-sink result is the stopped sink's own frame: with the
    events schema already known to the session, one stream_tumbling_counts
    call runs NO job in the caller's job group (its micro-batch jobs run
    under the query's own group), where an eager localCheckpoint of the
    sink would add one. The result plan reads the sink, not a checkpointed
    RDD."""
    import uuid

    J._stream_events(spark, sf_dir)  # the events schema, inferred once
    sc = spark.sparkContext
    group = f"one_copy_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "stream_tumbling_counts")
    try:
        out = J.stream_tumbling_counts(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MemoryPlan" in plan and "LogicalRDD" not in plan
    assert out.count() > 0
