"""Delta-protocol table layer (sources/deltalog.py): ACID commit
semantics, snapshot replay, checkpoints, time travel, copy-on-write
delete — pinned against the behaviors the public PROTOCOL.md requires."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opencode_hive_archon_spark.sources import deltalog as dl


def _df(spark, lo, hi, g="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(g).alias("g")
    )


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_append_time_travel_and_stats_count(spark, tmp_path):
    tbl = str(tmp_path / "t")
    assert dl.delta_write(spark, _df(spark, 0, 10), tbl) == 0
    assert dl.delta_write(spark, _df(spark, 10, 20), tbl) == 1
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(20))
    assert _ks(dl.delta_snapshot(spark, tbl, version=0)) == list(range(10))
    # COUNT(*) from add-action numRecords stats only — no data files read.
    assert dl.delta_count(spark, tbl) == 20
    assert dl.delta_count(spark, tbl, version=0) == 10


def test_overwrite_replaces_entire_live_set(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10), tbl)
    dl.delta_write(spark, _df(spark, 100, 103), tbl, mode="overwrite")
    assert _ks(dl.delta_snapshot(spark, tbl)) == [100, 101, 102]
    # Old rows remain reachable via time travel (remove != erase).
    assert _ks(dl.delta_snapshot(spark, tbl, version=0)) == list(range(10))


def test_delete_is_file_granular_copy_on_write(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_write(spark, _df(spark, 10, 20).repartition(1), tbl)
    before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    assert len(before) == 2
    untouched = next(p for p in before if p.startswith("part-00000"))
    dl.delta_delete(spark, tbl, "k >= 15")
    after_state = dl._snapshot_state(spark, tbl)
    after = {f["path"] for f in after_state["files"]}
    # The file with no matching rows keeps its ORIGINAL add entry; the
    # file containing matches was rewritten under the delete's version.
    assert untouched in after
    assert not any(p.startswith("part-00001") for p in after)
    assert any(p.startswith("part-00002") for p in after)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(15))


def test_delete_without_matches_commits_noop(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5).repartition(1), tbl)
    before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    v = dl.delta_delete(spark, tbl, "k > 999")
    assert v == 1
    assert {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]} == before


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "k long, val long"
    )
    dl.delta_write(spark, df, tbl)
    dl.delta_delete(spark, tbl, "val >= 10")
    # SQL DELETE semantics: only predicate-TRUE rows go; NULL stays.
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2]


def test_checkpoint_bounds_replay_and_survives_log_truncation(spark, tmp_path):
    tbl = str(tmp_path / "t")
    for i in range(7):  # v0..v6; auto-checkpoint at v4
        dl.delta_write(spark, _df(spark, i * 10, i * 10 + 10), tbl)
    st = dl._snapshot_state(spark, tbl)
    assert st["checkpoint_version"] == 4
    assert st["json_replayed"] == 2  # v5, v6 only
    # Spec metadata cleanup: commits at/before the checkpoint may be
    # deleted; the snapshot must still reconstruct from the checkpoint.
    for v in range(5):
        os.remove(dl._version_file(tbl, v))
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(70))
    # ...but time travel past the checkpoint horizon fails LOUDLY.
    with pytest.raises(dl.DeltaProtocolError, match="gap"):
        dl.delta_snapshot(spark, tbl, version=2)


def test_concurrent_commit_put_if_absent(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    with pytest.raises(dl.DeltaConcurrentCommit):
        dl._commit(tbl, 0, [{"commitInfo": {"operation": "RACE"}}])


def test_reader_version_gate(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    # r16: v3 is the table-features version — supported when the feature
    # list is implemented, refused when it is absent (malformed) …
    dl._commit(tbl, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
    ])
    with pytest.raises(dl.DeltaProtocolError, match="readerFeatures"):
        dl.delta_snapshot(spark, tbl)
    # Older versions predate the upgrade and stay readable.
    assert _ks(dl.delta_snapshot(spark, tbl, version=0)) == list(range(5))
    # … and anything ABOVE v3 is refused by version number.
    dl._commit(tbl, 2, [
        {"protocol": {"minReaderVersion": 4, "minWriterVersion": 8}},
    ])
    with pytest.raises(dl.DeltaProtocolError, match="minReaderVersion"):
        dl.delta_snapshot(spark, tbl)


def test_append_schema_enforcement(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    drifted = spark.range(0, 3).select(F.col("id").alias("other"))
    with pytest.raises(dl.DeltaProtocolError, match="schema enforcement"):
        dl.delta_write(spark, drifted, tbl)


def test_partitioned_table_values_and_scoped_delete(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = _df(spark, 0, 10, "a").union(_df(spark, 10, 20, "b"))
    dl.delta_write(spark, df, tbl, partition_by=["g"])
    st = dl._snapshot_state(spark, tbl)
    assert st["partition_columns"] == ["g"]
    pvals = {f["partitionValues"]["g"] for f in st["files"]}
    assert pvals == {"a", "b"}
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.filter(F.col("g") == "b").count() == 10
    # Partition-scoped delete rewrites only partition b's files.
    a_files = {
        f["path"] for f in st["files"] if f["partitionValues"]["g"] == "a"
    }
    dl.delta_delete(spark, tbl, "g = 'b' AND k >= 15")
    after = dl._snapshot_state(spark, tbl)["files"]
    assert a_files <= {f["path"] for f in after}
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(15))


def test_merge_updates_inserts_and_file_granularity(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, val double"
    ).repartition(1)
    dl.delta_write(spark, df, tbl)
    dl.delta_write(
        spark,
        spark.createDataFrame([(4, 40.0), (5, 50.0)], "k long, val double")
        .repartition(1),
        tbl,
    )
    src = spark.createDataFrame(
        [(2, 99.0), (6, 60.0)], "k long, val double"
    )
    before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    dl.delta_merge(spark, tbl, src, on=["k"])
    got = {
        r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()
    }
    # matched k=2 updated, unmatched source k=6 inserted, rest untouched.
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0, 5: 50.0, 6: 60.0}
    after = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    # Only the file containing k=2 was rewritten; the (4,5) file's add
    # entry survived the merge commit untouched.
    assert any(p.startswith("part-00001") for p in before & after)
    assert not any(p.startswith("part-00000") for p in after)
    # Pre-merge state is still time-travelable.
    assert _ks(dl.delta_snapshot(spark, tbl, version=1)) == [1, 2, 3, 4, 5]


def test_merge_cardinality_and_schema_guards(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark, spark.createDataFrame([(1, 10.0)], "k long, val double"), tbl
    )
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "k long, val double"
    )
    with pytest.raises(dl.DeltaProtocolError, match="cardinality"):
        dl.delta_merge(spark, tbl, dup, on=["k"])
    drifted = spark.createDataFrame([(1, "x")], "k long, other string")
    with pytest.raises(dl.DeltaProtocolError, match="schema"):
        dl.delta_merge(spark, tbl, drifted, on=["k"])


def test_merge_updates_every_duplicate_matched_row(spark, tmp_path):
    """MERGE's UPDATE SET * applies to EVERY matched target row — a table
    holding a key twice gets two updated rows, not a silent collapse."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark, spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, val double"), tbl
    )
    dl.delta_write(
        spark, spark.createDataFrame([(1, 11.0)], "k long, val double"), tbl
    )
    dl.delta_merge(
        spark, tbl,
        spark.createDataFrame([(1, 99.0)], "k long, val double"), on=["k"],
    )
    rows = sorted(
        (r["k"], r["val"]) for r in dl.delta_snapshot(spark, tbl).collect()
    )
    assert rows == [(1, 99.0), (1, 99.0), (2, 20.0)]


def test_append_inherits_and_enforces_partition_layout(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10, "a"), tbl, partition_by=["g"])
    # A sink-style append (no partition_by) keeps the hive layout.
    dl.delta_write(spark, _df(spark, 10, 15, "b"), tbl)
    st = dl._snapshot_state(spark, tbl)
    assert all(f["partitionValues"].get("g") for f in st["files"])
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.filter(F.col("g") == "b").count() == 5
    # An explicit conflicting layout is rejected, not silently mixed.
    with pytest.raises(dl.DeltaProtocolError, match="partition enforcement"):
        dl.delta_write(spark, _df(spark, 15, 20), tbl, partition_by=["k"])


def test_overwrite_with_new_schema_updates_metadata(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    evolved = spark.createDataFrame(
        [(1, 2.5, "x")], "a long, b double, c string"
    )
    dl.delta_write(spark, evolved, tbl, mode="overwrite")
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.columns == ["a", "b", "c"]
    assert snap.collect()[0]["c"] == "x"
    # Appends now enforce against the EVOLVED schema, not v0's.
    with pytest.raises(dl.DeltaProtocolError, match="schema enforcement"):
        dl.delta_write(spark, _df(spark, 5, 10), tbl)
    dl.delta_write(
        spark,
        spark.createDataFrame([(2, 3.5, "y")], "a long, b double, c string"),
        tbl,
    )
    assert dl.delta_snapshot(spark, tbl).count() == 2
    # Time travel to the pre-overwrite version serves the OLD schema.
    assert dl.delta_snapshot(spark, tbl, version=0).columns == ["k", "g"]


def test_stream_source_serves_partitioned_tables(spark, tmp_path):
    """r17: the log stream injects partition columns from
    partitionValues (the pre-r17 unpartitioned-only refusal removed)."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10, "a"), tbl, partition_by=["g"])
    dl.delta_write(spark, _df(spark, 10, 15, "b"), tbl, mode="append")
    spark.dataSource.register(dl.DeltaLogStreamSource)
    q = (
        spark.readStream.format("delta_log_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName("part_tail")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["k"], r["g"])
        for r in spark.sql("SELECT k, g FROM part_tail").collect()
    }
    assert got == {(k, "a") for k in range(10)} | {
        (k, "b") for k in range(10, 15)
    }


def test_change_feed_names_vacuumed_horizon(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_delete(spark, tbl, "k >= 5")
    dl.delta_vacuum(spark, tbl, retain_ms=0)
    with pytest.raises(dl.DeltaProtocolError, match="vacuumed"):
        dl.delta_changes(spark, tbl, 0, 1).collect()


def test_merge_into_empty_table_inserts_all(spark, tmp_path):
    tbl = str(tmp_path / "t")
    empty = spark.createDataFrame([], "k long, val double")
    dl.delta_write(spark, empty, tbl)
    src = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, val double")
    dl.delta_merge(spark, tbl, src, on=["k"])
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2]


_KVG = "k long, v double, g string"


def _merge_model(target, source):
    """Plain-Python MERGE upsert on the first field: a target row whose
    key matches a source row becomes that row, unmatched source rows are
    appended, and a NULL key matches nothing."""
    by_key = {r[0]: r for r in source if r[0] is not None}
    live = {r[0] for r in target}
    out = [by_key.get(r[0], r) if r[0] is not None else r for r in target]
    out += [r for r in source if r[0] is None or r[0] not in live]
    return sorted(out, key=repr)


def _write_rows(spark, tbl, rows, **kw):
    dl.delta_write(
        spark, spark.createDataFrame(rows, _KVG).repartition(1), tbl,
        mode="append", **kw,
    )


def _case_all_new(spark, tbl, monkeypatch):
    # New keys inside the target's key range: every file is a candidate,
    # none is a hit.
    target = [(k, float(k), "a") for k in range(0, 40, 2)]
    _write_rows(spark, tbl, target[:10])
    _write_rows(spark, tbl, target[10:])
    return target, [(k, -1.0, "n") for k in (1, 7, 33, 100)]


def _case_no_key_stats(spark, tbl, monkeypatch):
    target = [(k, float(k), "a") for k in range(20)]
    with monkeypatch.context() as m:
        full = dl._file_stats
        m.setattr(dl, "_file_stats", lambda p: {
            "numRecords": full(p)["numRecords"]
        })
        _write_rows(spark, tbl, target[:10])
    _write_rows(spark, tbl, target[10:])
    return target, [(5, 50.0, "u"), (15, 150.0, "u"), (99, 9.0, "n")]


def _case_null_key(spark, tbl, monkeypatch):
    target = [(k, float(k), "a") for k in range(10)] + [(None, -1.0, "t")]
    _write_rows(spark, tbl, target)
    return target, [(None, -2.0, "s"), (3, 30.0, "u"), (42, 4.2, "n")]


def _case_dv_candidate(spark, tbl, monkeypatch):
    _write_rows(spark, tbl, [(k, float(k), "a") for k in range(10)])
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    target = [(k, float(k), "a") for k in range(7)]
    # 8 is a dead row of the DV'd file: an insert, not an update.
    return target, [(2, 20.0, "u"), (8, 80.0, "n"), (20, 2.0, "n")]


def _case_partitioned(spark, tbl, monkeypatch):
    target = [(k, float(k), "a" if k < 10 else "b") for k in range(20)]
    _write_rows(spark, tbl, target, partition_by=["g"])
    # 3 moves from partition a to b; 25 lands in a new partition.
    return target, [(3, 30.0, "b"), (12, 120.0, "b"), (25, 2.5, "c")]


@pytest.mark.parametrize("case", [
    _case_all_new, _case_no_key_stats, _case_null_key, _case_dv_candidate,
    _case_partitioned,
], ids=lambda c: c.__name__[len("_case_"):])
def test_merge_matches_python_model(spark, tmp_path, monkeypatch, case):
    """The edge cases MERGE's insert set must keep: inserts are the
    source anti-joined with the HIT files' keys only, so every live row
    holding a source key must sit in a hit file."""
    tbl = str(tmp_path / "t")
    target, source = case(spark, tbl, monkeypatch)
    before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    v = dl.delta_merge(
        spark, tbl, spark.createDataFrame(source, _KVG), on=["k"]
    )
    got = sorted(
        (tuple(r) for r in dl.delta_snapshot(spark, tbl).select(
            "k", "v", "g").collect()),
        key=repr,
    )
    assert got == _merge_model(target, source)
    removed = [a for a in dl._load_commit_actions(tbl, v) if "remove" in a]
    if case is _case_all_new:
        assert not removed
        assert before <= {
            f["path"] for f in dl._snapshot_state(spark, tbl)["files"]
        }
    else:
        assert removed


def test_merge_runs_at_most_eleven_jobs_each_described(spark, tmp_path):
    """A small upsert asks each question of its source once: one cache
    build, one stats aggregate, hit discovery and the staging write — at
    most 11 jobs, each described by its write phase."""
    tbl = str(tmp_path / "t")
    _write_rows(spark, tbl, [(k, float(k), "a") for k in range(20)])
    _write_rows(spark, tbl, [(k, float(k), "a") for k in range(20, 40)])
    src = spark.createDataFrame(
        [(k, -1.0, "u") for k in (3, 25, 41, 50)], _KVG
    )
    group = f"merge-{os.getpid()}-{tmp_path.name}"
    _run_in_group(spark, group, lambda: dl.delta_merge(
        spark, tbl, src, on=["k"]
    ))
    descs = _group_job_descriptions(spark, group, "control")[:-1]
    assert 0 < len(descs) <= 11, descs
    assert set(descs) <= {
        "delta MERGE source stats", "delta hit discovery",
        "delta staging write",
    }, descs
    assert not src.is_cached  # released after the commit
    assert _ks(dl.delta_snapshot(spark, tbl)) == sorted(
        set(range(40)) | {41, 50}
    )


def test_txn_idempotent_stream_sink(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sink = dl.delta_stream_sink(tbl, "job1")
    sink(_df(spark, 0, 5), 0)
    sink(_df(spark, 5, 10), 1)
    # Retry of batch 1 (even with different content — the failure-replay
    # case) must be a no-op: the txn watermark already covers version 1.
    sink(_df(spark, 100, 200), 1)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(10))
    sink(_df(spark, 10, 15), 2)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(15))
    # A different appId is an independent watermark.
    assert dl._snapshot_state(spark, tbl)["txns"] == {"job1": 2}


def test_txn_watermark_survives_checkpoint_truncation(spark, tmp_path):
    tbl = str(tmp_path / "t")
    sink = dl.delta_stream_sink(tbl, "jobX")
    for b in range(6):  # v0..v5, auto-checkpoint at v4
        sink(_df(spark, b * 10, b * 10 + 10), b)
    for v in range(5):  # spec metadata cleanup behind the checkpoint
        os.remove(dl._version_file(tbl, v))
    # The checkpoint carries the txn watermark: replaying batch 3 after
    # log truncation must STILL be a no-op.
    sink(_df(spark, 900, 910), 3)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(60))


def test_partitioned_snapshot_read_is_partition_pruned(spark, tmp_path):
    """Plan pin: filtering a partitioned delta snapshot on its partition
    column lands in PartitionFilters (directory pruning), not a row
    filter — the delta read path keeps the lakehouse pruning story."""
    tbl = str(tmp_path / "t")
    df = _df(spark, 0, 10, "a").union(_df(spark, 10, 20, "b"))
    dl.delta_write(spark, df, tbl, partition_by=["g"])
    snap = dl.delta_snapshot(spark, tbl).filter(F.col("g") == "a")
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "g" in m.group(1), plan


def test_write_after_full_log_truncation_continues_versions(spark, tmp_path):
    """Checkpoint-only table (every JSON GC'd): a new write must continue
    the version sequence past the checkpoint, not restart at 0 — a v0
    commit behind a v4 checkpoint would be silently invisible to replay."""
    tbl = str(tmp_path / "t")
    for i in range(5):  # v0..v4, checkpoint at v4
        dl.delta_write(spark, _df(spark, i * 10, i * 10 + 10), tbl)
    for v in range(5):
        os.remove(dl._version_file(tbl, v))
    assert dl.latest_version(tbl) == 4
    v = dl.delta_write(spark, _df(spark, 50, 60), tbl)
    assert v == 5
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(60))


def test_append_tolerates_nullability_drift(spark, tmp_path):
    """Enforcement rejects TYPE drift, not the non-nullable flags a
    lit()-derived frame carries (delta's append contract)."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    tightened = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("z").alias("g")
    )  # both columns non-nullable here, nullable in the table schema
    dl.delta_write(spark, tightened, tbl)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(8))


def test_optimize_bin_packs_without_data_change(spark, tmp_path):
    tbl = str(tmp_path / "t")
    for i in range(6):
        dl.delta_write(spark, _df(spark, i * 5, i * 5 + 5).repartition(1), tbl)
    pre_files = len(dl._snapshot_state(spark, tbl)["files"])
    assert pre_files == 6
    v = dl.delta_optimize(spark, tbl, target_bytes=1 << 30)
    assert v == 6
    st = dl._snapshot_state(spark, tbl)
    assert len(st["files"]) == 1
    # Content identical, stats-only count still exact, time travel intact.
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(30))
    assert dl.delta_count(spark, tbl) == 30
    assert _ks(dl.delta_snapshot(spark, tbl, version=5)) == list(range(30))
    # The OPTIMIZE commit is dataChange: false on BOTH sides — a
    # streaming log reader must be able to skip it.
    actions = [
        json.loads(line)
        for line in open(dl._version_file(tbl, 6))
        if line.strip()
    ]
    flags = [
        a["add"]["dataChange"] if "add" in a else a["remove"]["dataChange"]
        for a in actions
        if "add" in a or "remove" in a
    ]
    assert flags and not any(flags)
    # Re-running is a no-op once nothing is packable.
    assert dl.delta_optimize(spark, tbl, target_bytes=1 << 30) is None


def test_optimize_packs_within_partitions(spark, tmp_path):
    tbl = str(tmp_path / "t")
    for i in range(3):
        df = _df(spark, i * 10, i * 10 + 5, "a").union(
            _df(spark, i * 10 + 5, i * 10 + 10, "b")
        )
        dl.delta_write(spark, df, tbl, partition_by=["g"])
    dl.delta_optimize(spark, tbl, target_bytes=1 << 30)
    st = dl._snapshot_state(spark, tbl)
    per_part: dict[str, int] = {}
    for f in st["files"]:
        per_part[f["partitionValues"]["g"]] = (
            per_part.get(f["partitionValues"]["g"], 0) + 1
        )
    assert per_part == {"a": 1, "b": 1}
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.count() == 30
    assert snap.filter(F.col("g") == "b").count() == 15


def test_change_feed_reconciles_to_snapshot(spark, tmp_path):
    from collections import Counter

    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(5)], "k long, val double"
        ).repartition(1),
        tbl,
    )  # v0
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(5, 10)], "k long, val double"
        ).repartition(1),
        tbl,
    )  # v1
    dl.delta_delete(spark, tbl, "k >= 8")  # v2: rewrite
    v3 = dl.delta_optimize(spark, tbl, target_bytes=1 << 30)  # v3
    assert v3 == 3
    dl.delta_merge(
        spark,
        tbl,
        spark.createDataFrame([(0, 99.0), (20, 20.0)], "k long, val double"),
        on=["k"],
    )  # v4
    feed = dl.delta_changes(spark, tbl, 0, 4).collect()
    # The OPTIMIZE commit contributes nothing (dataChange: false).
    assert not [r for r in feed if r["_commit_version"] == 3]
    # Replaying the feed over snapshot v0 reproduces snapshot v4 exactly.
    current = Counter(
        (r["k"], r["val"])
        for r in dl.delta_snapshot(spark, tbl, version=0).collect()
    )
    # r16: MERGE commits are row-granular — update_preimage replays as a
    # removal and update_postimage as an addition.
    for v in (1, 2, 3, 4):
        current -= Counter(
            (r["k"], r["val"]) for r in feed
            if r["_commit_version"] == v
            and r["_change_type"] in ("delete", "update_preimage")
        )
        current += Counter(
            (r["k"], r["val"]) for r in feed
            if r["_commit_version"] == v
            and r["_change_type"] in ("insert", "update_postimage")
        )
    final = Counter(
        (r["k"], r["val"]) for r in dl.delta_snapshot(spark, tbl).collect()
    )
    assert current == final
    assert final[(0, 99.0)] == 1 and final[(20, 20.0)] == 1
    # The v4 MERGE feed carries the update pair, and the carried rows
    # (1..7 minus key 0) are elided.
    v4 = [r for r in feed if r["_commit_version"] == 4]
    assert sorted((r["_change_type"], r["k"]) for r in v4) == [
        ("insert", 20), ("update_postimage", 0), ("update_preimage", 0)
    ]
    # A rearrangement-only range yields an empty, correctly-typed feed.
    empty = dl.delta_changes(spark, tbl, 2, 3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_vacuum_reclaims_tombstones_and_orphans(spark, tmp_path):
    import shutil as _shutil

    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_write(spark, _df(spark, 10, 20).repartition(1), tbl)
    dl.delta_delete(spark, tbl, "k >= 15")  # tombstones the (10..19) file
    # Plant an orphan (a crashed writer's never-committed file).
    live_file = next(
        f["path"] for f in dl._snapshot_state(spark, tbl)["files"]
    )
    orphan = os.path.join(tbl, "part-orphan-c000.snappy.parquet")
    _shutil.copy(os.path.join(tbl, live_file), orphan)
    os.utime(orphan, (0, 0))  # ancient mtime
    # Default retention: nothing is old enough except the planted orphan.
    assert dl.delta_vacuum(spark, tbl) == ["part-orphan-c000.snappy.parquet"]
    # Zero retention: the tombstoned file goes too.
    gone = dl.delta_vacuum(spark, tbl, retain_ms=0)
    assert any(p.startswith("part-00001") for p in gone)
    # Latest snapshot is untouched...
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(15))
    # ...but time travel to the pre-delete version is now unreadable,
    # exactly like delta after VACUUM.
    with pytest.raises(Exception):  # noqa: B017 - Spark surfaces AnalysisException/IO
        dl.delta_snapshot(spark, tbl, version=1).collect()


def test_tombstones_survive_checkpoint_for_vacuum(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_delete(spark, tbl, "k >= 5")  # v1: tombstone
    for i in range(3):  # v2..v4; auto-checkpoint at v4
        dl.delta_write(spark, _df(spark, 100 + i, 101 + i), tbl)
    for v in range(5):  # GC every JSON at/behind the checkpoint
        os.remove(dl._version_file(tbl, v))
    st = dl._snapshot_state(spark, tbl)
    # The remove action's commit is gone; the checkpoint carried it.
    assert any(
        t["path"].startswith("part-00000") for t in st["tombstones"]
    )
    gone = dl.delta_vacuum(spark, tbl, retain_ms=0)
    assert any(p.startswith("part-00000") for p in gone)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4, 100, 101, 102]


def test_streaming_source_tails_data_changes_only(spark, tmp_path):
    """The delta log as a Structured Streaming SOURCE: appends flow
    through micro-batches, OPTIMIZE rearrangements are skipped, and new
    commits made while the stream runs are picked up."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5).repartition(1), tbl)
    dl.delta_write(spark, _df(spark, 5, 10).repartition(1), tbl)
    assert dl.delta_optimize(spark, tbl, target_bytes=1 << 30) == 2
    dl.delta_write(spark, _df(spark, 10, 15).repartition(1), tbl)
    spark.dataSource.register(dl.DeltaLogStreamSource)
    q = (
        spark.readStream.format("delta_log_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName("delta_tail")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r["k"] for r in spark.sql("SELECT k FROM delta_tail").collect()
        )
        # 0..14 exactly once: the OPTIMIZE commit's rewritten copies of
        # 0..9 were dataChange:false and must not re-emit.
        assert got == list(range(15))
        dl.delta_write(spark, _df(spark, 15, 20).repartition(1), tbl)
        q.processAllAvailable()
        got = sorted(
            r["k"] for r in spark.sql("SELECT k FROM delta_tail").collect()
        )
        assert got == list(range(20))
    finally:
        q.stop()


def test_reads_foreign_writer_table(spark, tmp_path):
    """Interop: a table whose log was written by ANOTHER implementation —
    hand-built spec-shaped actions, no stats on the add, different file
    naming — must snapshot correctly, and delta_count must fall back to
    the parquet footer for the stats-less file."""
    tbl = str(tmp_path / "t")
    os.makedirs(os.path.join(tbl, "_delta_log"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string")
    df.coalesce(1).write.parquet(str(tmp_path / "stage"))
    data_file = next(
        n for n in os.listdir(tmp_path / "stage") if n.endswith(".parquet")
    )
    os.rename(
        tmp_path / "stage" / data_file,
        os.path.join(tbl, "some-foreign-name.parquet"),
    )
    size = os.path.getsize(os.path.join(tbl, "some-foreign-name.parquet"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "foreign-id", "name": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {
            "path": "some-foreign-name.parquet", "partitionValues": {},
            "size": size, "modificationTime": 0, "dataChange": True,
        }},  # note: no stats field at all
    ]
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2]
    assert dl.delta_count(spark, tbl) == 2  # footer fallback path
    # And our writer can continue a foreign table's version sequence.
    dl.delta_write(
        spark, spark.createDataFrame([(3, "c")], "k long, g string"), tbl
    )
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2, 3]


def test_time_travel_out_of_range_raises(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    with pytest.raises(dl.DeltaProtocolError, match="out of range"):
        dl.delta_snapshot(spark, tbl, version=7)
    with pytest.raises(dl.DeltaProtocolError, match="out of range"):
        dl.delta_snapshot(spark, tbl, version=-1)


def test_commit_file_is_spec_shaped_json(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    actions = [
        json.loads(line)
        for line in open(dl._version_file(tbl, 0))
        if line.strip()
    ]
    kinds = [next(iter(a)) for a in actions]
    assert kinds == ["commitInfo", "protocol", "metaData", "add"] or kinds[
        :3
    ] == ["commitInfo", "protocol", "metaData"]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    # schemaString is the Spark StructType JSON (what delta-spark writes).
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds = [a["add"] for a in actions if "add" in a]
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 5
    assert all(a["dataChange"] is True for a in adds)
    # No zero-row add actions: empty-partition files are never committed.
    assert all(json.loads(a["stats"])["numRecords"] > 0 for a in adds)


def test_write_rejects_unknown_mode_even_on_new_table(spark, tmp_path):
    """Mode is validated BEFORE the v==0 branch: 'ignore' /
    'errorifexists' / a typo must not silently create the table."""
    tbl = str(tmp_path / "t")
    for bad in ("ignore", "errorifexists", "apend"):
        with pytest.raises(ValueError, match="unsupported mode"):
            dl.delta_write(spark, _df(spark, 0, 5), tbl, mode=bad)
    assert not os.path.exists(tbl) or not os.listdir(tbl)


def test_vacuum_orphan_sweep_honors_safety_window(spark, tmp_path):
    """vacuum(0) reclaims aged TOMBSTONES but must NOT sweep a FRESH
    unreferenced parquet: mtime cannot distinguish crashed-writer debris
    from a concurrent in-flight writer's staged-and-moved files, so the
    orphan sweep has a safety floor (ORPHAN_SAFETY_WINDOW_MS)."""
    import shutil as _shutil

    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_delete(spark, tbl, "k >= 5")  # tombstones the original file
    live_file = dl._decode_path(
        dl._snapshot_state(spark, tbl)["files"][0]["path"]
    )
    fresh = os.path.join(tbl, "part-inflight-c000.snappy.parquet")
    _shutil.copy(os.path.join(tbl, live_file), fresh)  # current mtime
    stale = os.path.join(tbl, "part-crashed-c000.snappy.parquet")
    _shutil.copy(os.path.join(tbl, live_file), stale)
    os.utime(stale, (0, 0))  # ancient mtime: genuinely crashed debris
    gone = dl.delta_vacuum(spark, tbl, retain_ms=0)
    assert any(p.startswith("part-00000") for p in gone)  # tombstone: yes
    assert "part-crashed-c000.snappy.parquet" in gone  # aged orphan: yes
    assert os.path.exists(fresh)  # fresh orphan: protected by the floor
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4]


def test_change_feed_rejects_schema_evolution_inside_range(spark, tmp_path):
    """A feed range crossing an overwrite-with-new-schema must raise, not
    silently read the pre-evolution delete-rows under the new schema
    (which would surface them as null columns)."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)  # v0: (k, g)
    dl.delta_write(spark, _df(spark, 5, 8), tbl)  # v1: same schema
    evolved = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1.5).alias("score")
    )
    dl.delta_write(spark, evolved, tbl, mode="overwrite")  # v2: new schema
    # Range NOT crossing the evolution: fine.
    assert dl.delta_changes(spark, tbl, 0, 1).count() == 3
    # Ranges crossing v2 (from before-creation or mid-log): loud failure.
    with pytest.raises(dl.DeltaProtocolError, match="schema or partition"):
        dl.delta_changes(spark, tbl, -1, 2)
    with pytest.raises(dl.DeltaProtocolError, match="schema or partition"):
        dl.delta_changes(spark, tbl, 1, 2)


def test_action_paths_are_percent_encoded_and_roundtrip(spark, tmp_path):
    """PROTOCOL.md: add/remove `path` is percent-encoded. Spark's own
    partition-dir escaping puts literal '%' in dir names (e.g. ':' ->
    '%3A'); the action path must encode that '%' so a spec-strict
    foreign reader decodes back to the exact on-disk name."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "a:b"), (3, "plain")], "k long, g string"
    )
    dl.delta_write(spark, df, tbl, partition_by=["g"])
    state = dl._snapshot_state(spark, tbl)
    enc = {f["path"] for f in state["files"]}
    # Spark writes dir g=a%3Ab; the action path encodes the '%' itself.
    assert any("g=a%253Ab/" in p for p in enc)
    # Decoded paths resolve to real files; snapshot reads everything.
    for p in enc:
        assert os.path.exists(os.path.join(tbl, dl._decode_path(p)))
    snap = dl.delta_snapshot(spark, tbl)
    assert _ks(snap) == [1, 2, 3]
    assert sorted(
        r["g"] for r in snap.select("g").distinct().collect()
    ) == ["a:b", "plain"]
    # Copy-on-write delete still maps files correctly through encoding.
    dl.delta_delete(spark, tbl, "k = 1")
    assert _ks(dl.delta_snapshot(spark, tbl)) == [2, 3]


def test_reads_foreign_encoded_paths(spark, tmp_path):
    """A foreign writer that percent-encodes MORE than we do (any valid
    RFC 2396 encoding) must still resolve: unquote is the reader-side
    contract, whatever the writer left literal."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5).repartition(1), tbl)
    vf = dl._version_file(tbl, 0)
    text = open(vf).read()
    assert "part-00000" in text
    # Re-encode the add.path with extra (legal) percent-escapes.
    patched = text.replace("part-00000", "part%2D00000")
    os.remove(vf)
    with open(vf, "w") as fh:
        fh.write(patched)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4]
    assert dl.delta_count(spark, tbl) == 5


def test_timestamp_time_travel(spark, tmp_path):
    import time as _time

    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    _time.sleep(0.05)
    t_mid = dl._now_ms()
    _time.sleep(0.05)
    dl.delta_write(spark, _df(spark, 5, 10), tbl)
    assert dl.version_at_timestamp(tbl, t_mid) == 0
    assert _ks(dl.delta_snapshot(spark, tbl, timestamp_ms=t_mid)) == list(range(5))
    # After the newest commit: latest version.
    assert _ks(dl.delta_snapshot(spark, tbl, timestamp_ms=dl._now_ms() + 1000)) == list(range(10))
    with pytest.raises(dl.DeltaProtocolError, match="predates"):
        dl.version_at_timestamp(tbl, 1)
    with pytest.raises(ValueError, match="not both"):
        dl.delta_snapshot(spark, tbl, version=0, timestamp_ms=t_mid)


def test_restore_to_old_version(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)   # v0
    dl.delta_write(spark, _df(spark, 10, 20).repartition(1), tbl)  # v1
    dl.delta_delete(spark, tbl, "k < 5")                           # v2
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(5, 20))
    v = dl.delta_restore(spark, tbl, 1)
    assert v == 3
    # Restored contents == v1; the pre-restore state stays travelable.
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(20))
    assert _ks(dl.delta_snapshot(spark, tbl, version=2)) == list(range(5, 20))
    # Restore-to-self is a no-op (no new commit).
    assert dl.delta_restore(spark, tbl, 3) == 3
    assert dl.latest_version(tbl) == 3


def test_restore_resets_evolved_schema(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)  # v0: (k, g)
    evolved = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1.5).alias("score")
    )
    dl.delta_write(spark, evolved, tbl, mode="overwrite")  # v1: new schema
    dl.delta_restore(spark, tbl, 0)
    snap = dl.delta_snapshot(spark, tbl)
    assert set(snap.columns) == {"k", "g"}
    assert _ks(snap) == list(range(5))


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_write(spark, _df(spark, 100, 103).repartition(1), tbl, mode="overwrite")
    dl.delta_vacuum(spark, tbl, retain_ms=0)  # reclaims v0's tombstoned file
    with pytest.raises(dl.DeltaProtocolError, match="vacuumed"):
        dl.delta_restore(spark, tbl, 0)


def test_optimize_zorder_clusters_for_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY: a hash-scattered 2-D table where every file
    spans the full k1 range (skipping useless) becomes range-clustered
    on the Morton code — same rows, dataChange:false, and a k1-band
    predicate now provably skips files."""
    from opencode_hive_archon_spark.sources import deltastats as ds

    tbl = str(tmp_path / "t")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("k1"), (F.col("id") / 64).cast("long").alias("k2")
    )
    dl.delta_write(spark, df.repartition(8), tbl)
    pred = "k1 < 8"
    total, scanned = ds.delta_scan_accounting(spark, tbl, pred)
    assert total == 8 and scanned == 8  # hash layout: nothing skippable
    state = dl._snapshot_state(spark, tbl)
    target = max(1, sum(f["size"] for f in state["files"]) // 4)
    v = dl.delta_optimize(spark, tbl, target_bytes=target, zorder_by=["k1", "k2"])
    assert v == 1
    with open(dl._version_file(tbl, 1)) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    assert all(
        a["add"]["dataChange"] is False for a in acts if "add" in a
    )
    assert all(
        a["remove"]["dataChange"] is False for a in acts if "remove" in a
    )
    total2, scanned2 = ds.delta_scan_accounting(spark, tbl, pred)
    assert scanned2 < total2  # clustering made the band skippable
    got = sorted(r["k1"] * 100000 + r["k2"] for r in dl.delta_snapshot(spark, tbl).collect())
    want = sorted((i % 64) * 100000 + i // 64 for i in range(4096))
    assert got == want


def test_check_constraints_enforced_on_all_write_paths(spark, tmp_path):
    """PROTOCOL.md delta.constraints.*: added only when existing rows
    satisfy it; append / overwrite / merge / append-retry all reject a
    violating batch; NULL passes (SQL CHECK semantics); drop lifts it."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0), (2, None)], "k long, val double"),
        tbl,
    )
    # Existing violation blocks ADD.
    with pytest.raises(dl.DeltaProtocolError, match="existing rows violate"):
        dl.delta_add_constraint(spark, tbl, "big", "val >= 100")
    v = dl.delta_add_constraint(spark, tbl, "pos", "val >= 0")  # NULL passes
    assert v == 1
    bad = spark.createDataFrame([(3, -1.0)], "k long, val double")
    good = spark.createDataFrame([(3, 3.0)], "k long, val double")
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_write(spark, bad, tbl)
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_write(spark, bad, tbl, mode="overwrite")
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_merge(spark, tbl, bad, on=["k"])
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_append(spark, bad, tbl)
    dl.delta_write(spark, good, tbl)  # clean batch passes
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2, 3]
    # Constraint survives overwrite (configuration rides the metaData).
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_write(spark, bad, tbl, mode="overwrite")
    dl.delta_drop_constraint(spark, tbl, "pos")
    dl.delta_write(spark, bad, tbl)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2, 3, 3]
    with pytest.raises(dl.DeltaProtocolError, match="no such constraint"):
        dl.delta_drop_constraint(spark, tbl, "pos")


def test_multipart_checkpoint_roundtrip_and_gc(spark, tmp_path):
    """A checkpoint forced into the spec's multi-part form replays the
    same state; a missing part makes the checkpoint INVISIBLE (replay
    falls back to the JSON history — a crashed upload must not brick
    reads); after JSON GC the complete form carries the table alone, and
    losing a part THEN fails loudly as a log gap."""
    tbl = str(tmp_path / "t")
    for i in range(4):  # v0..v3 (below the auto-checkpoint interval)
        dl.delta_write(spark, _df(spark, i * 10, i * 10 + 10).repartition(1), tbl)
    finals = dl.delta_checkpoint(spark, tbl, 3, max_actions_per_part=2)
    assert len(finals) >= 2
    assert all(".checkpoint.00000000" in f for f in finals)
    st = dl._snapshot_state(spark, tbl)
    assert st["checkpoint_version"] == 3 and st["json_replayed"] == 0
    # Crashed-upload simulation: one part missing -> checkpoint is not
    # selectable, full JSON replay still serves the table.
    os.remove(finals[0])
    st = dl._snapshot_state(spark, tbl)
    assert st["checkpoint_version"] is None and st["json_replayed"] == 4
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(40))
    # Re-checkpoint (complete), then spec metadata cleanup GCs the JSONs.
    finals = dl.delta_checkpoint(spark, tbl, 3, max_actions_per_part=2)
    for v in range(4):
        os.remove(dl._version_file(tbl, v))
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(40))
    assert dl.latest_version(tbl) == 3
    # Writers continue the version sequence from the checkpoint alone.
    dl.delta_write(spark, _df(spark, 100, 101), tbl)
    assert dl.latest_version(tbl) == 4
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(40)) + [100]
    # With the JSONs gone, a vanished part IS unrecoverable: log gap.
    os.remove(finals[0])
    with pytest.raises(dl.DeltaProtocolError, match="gap"):
        dl.delta_snapshot(spark, tbl, version=3)


def test_delete_and_merge_occ_retry(spark, tmp_path):
    """DELETE/MERGE lose a commit race (next version pre-occupied) and
    must re-run their read phase at the following version — results
    identical to an uncontended run, no duplicate effects."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, val double"
        ),
        tbl,
    )
    dl._commit(tbl, 1, [{
        "commitInfo": {"timestamp": 0, "operation": "WRITE",
                       "operationParameters": {"mode": "APPEND"}},
    }])
    assert dl.delta_delete(spark, tbl, "k = 3") == 2
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2]
    dl._commit(tbl, 3, [{
        "commitInfo": {"timestamp": 0, "operation": "WRITE",
                       "operationParameters": {"mode": "APPEND"}},
    }])
    src = spark.createDataFrame([(2, 99.0), (7, 70.0)], "k long, val double")
    assert dl.delta_merge(spark, tbl, src, on=["k"]) == 4
    got = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    assert got == {1: 10.0, 2: 99.0, 7: 70.0}


def test_column_mapping_rename_and_drop_without_rewrite(spark, tmp_path):
    """Column mapping (name mode): rename/drop are metadata-only — the
    data files are untouched; reads project physical -> logical; time
    travel shows each version under ITS OWN names; writes after a rename
    store the PHYSICAL name on disk; pre-mapping readers are fenced out
    by the protocol bump."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y")], "k long, val double, tag string"
    ).repartition(1)
    dl.delta_write(spark, df, tbl)
    files_before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    dl.delta_enable_column_mapping(spark, tbl)           # v1
    dl.delta_rename_column(spark, tbl, "val", "price")   # v2
    dl.delta_drop_column(spark, tbl, "tag")              # v3
    st = dl._snapshot_state(spark, tbl)
    # Metadata-only: the live file set never changed.
    assert {f["path"] for f in st["files"]} == files_before
    snap = dl.delta_snapshot(spark, tbl)
    assert set(snap.columns) == {"k", "price"}
    assert {r["k"]: r["price"] for r in snap.collect()} == {1: 10.0, 2: 20.0}
    # Time travel replays each version's own metaData.
    assert set(dl.delta_snapshot(spark, tbl, version=0).columns) == {
        "k", "val", "tag"
    }
    # Appends use the NEW logical name but store the physical one.
    dl.delta_write(
        spark,
        spark.createDataFrame([(3, 30.0)], "k long, price double"),
        tbl,
    )
    assert {
        r["k"]: r["price"]
        for r in dl.delta_snapshot(spark, tbl).collect()
    } == {1: 10.0, 2: 20.0, 3: 30.0}
    new_file = next(
        f["path"]
        for f in dl._snapshot_state(spark, tbl)["files"]
        if f["path"] not in files_before
    )
    cols = pq.ParquetFile(
        os.path.join(tbl, dl._decode_path(new_file))
    ).schema_arrow.names
    assert "val" in cols and "price" not in cols  # physical name on disk
    # Old logical name is gone from the write contract.
    with pytest.raises(dl.DeltaProtocolError, match="schema enforcement"):
        dl.delta_write(
            spark,
            spark.createDataFrame([(4, 4.0)], "k long, val double"),
            tbl,
        )
    # Protocol fence: the table now demands reader 2 (we support it).
    with open(dl._version_file(tbl, 1)) as fh:
        protos = [
            json.loads(l)["protocol"] for l in fh
            if l.strip() and "protocol" in json.loads(l)
        ]
    assert protos and protos[0]["minReaderVersion"] == 2


def test_column_mapping_delete_and_skipping_use_logical_names(spark, tmp_path):
    """DELETE predicates and data skipping speak LOGICAL names over a
    mapped table — stats stay keyed by physical names underneath."""
    from opencode_hive_archon_spark.sources import deltastats as ds

    tbl = str(tmp_path / "t")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        dl.delta_write(
            spark,
            spark.range(lo, hi).select(F.col("id").alias("k")).repartition(1),
            tbl,
        )
    dl.delta_enable_column_mapping(spark, tbl)
    dl.delta_rename_column(spark, tbl, "k", "key")
    total, scanned = ds.delta_scan_accounting(spark, tbl, "key >= 10 AND key < 20")
    assert (total, scanned) == (3, 1)  # stats pruning through the mapping
    got = sorted(
        r["key"]
        for r in ds.delta_scan(spark, tbl, "key >= 10 AND key < 20").collect()
    )
    assert got == list(range(10, 20))
    dl.delta_delete(spark, tbl, "key >= 25")
    assert sorted(
        r["key"] for r in dl.delta_snapshot(spark, tbl).collect()
    ) == list(range(25))


def test_column_mapping_requires_enable_and_guards(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    with pytest.raises(dl.DeltaProtocolError, match="column mapping"):
        dl.delta_rename_column(spark, tbl, "k", "key")
    dl.delta_enable_column_mapping(spark, tbl)
    with pytest.raises(dl.DeltaProtocolError, match="no such column"):
        dl.delta_rename_column(spark, tbl, "nope", "x")
    with pytest.raises(dl.DeltaProtocolError, match="already exists"):
        dl.delta_rename_column(spark, tbl, "k", "g")
    # Schema-changing overwrite on a mapped table mints fresh mapping
    # metadata (r18) instead of refusing; see
    # tests/test_delta_schema_evolution.py. Partitioned tables enable
    # mapping too (r18); see tests/test_delta_mapping_partitioned.py.
    tbl2 = str(tmp_path / "t2")
    dl.delta_write(spark, _df(spark, 0, 10), tbl2, partition_by=["g"])
    v = dl.delta_enable_column_mapping(spark, tbl2)
    assert v == 1
    assert _ks(dl.delta_snapshot(spark, tbl2)) == list(range(10))


def test_restore_reverts_rename_metadata_only(spark, tmp_path):
    """RESTORE to a pre-rename version brings the OLD logical names back
    without touching data files (both names map to the same physical
    column), and the mapped read path keeps working afterwards."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, val double"),
        tbl,
    )                                                    # v0
    dl.delta_enable_column_mapping(spark, tbl)           # v1
    dl.delta_rename_column(spark, tbl, "val", "price")   # v2
    files = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    dl.delta_restore(spark, tbl, 1)                      # v3: pre-rename
    assert {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]} == files
    snap = dl.delta_snapshot(spark, tbl)
    assert set(snap.columns) == {"k", "val"}
    assert {r["k"]: r["val"] for r in snap.collect()} == {1: 10.0, 2: 20.0}


def test_stats_skip_non_plain_numeric_logicals(spark, tmp_path):
    """Date/timestamp/decimal columns ride INT32/INT64 physically but
    surface non-JSON logical values from the footer — they must be
    OMITTED from stats (not crash the write, not emit bogus bounds)."""
    tbl = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id AS k, DATE'2024-01-01' + CAST(id AS int) AS d, "
        "TIMESTAMP'2024-01-01 00:00:00' AS ts, "
        "CAST(1.5 AS DECIMAL(10,2)) AS dec FROM range(5)"
    )
    dl.delta_write(spark, df, tbl)  # must not raise
    stats = json.loads(
        dl._snapshot_state(spark, tbl)["files"][0]["stats"]
    )
    assert stats["numRecords"] > 0
    mins = stats.get("minValues") or {}
    assert "k" in mins
    assert "d" not in mins and "ts" not in mins and "dec" not in mins
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4]


def test_change_feed_on_column_mapped_table(spark, tmp_path):
    """The feed reads physical-named files and projects to logical names
    — a renamed column arrives populated, never silently NULL."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0)], "k long, val double"),
        tbl,
    )                                                    # v0
    dl.delta_enable_column_mapping(spark, tbl)           # v1
    dl.delta_rename_column(spark, tbl, "k", "key")       # v2
    dl.delta_write(
        spark,
        spark.createDataFrame([(2, 20.0)], "key long, val double"),
        tbl,
    )                                                    # v3
    feed = dl.delta_changes(spark, tbl, 2, 3).collect()
    assert [(r["key"], r["val"], r["_change_type"]) for r in feed] == [
        (2, 20.0, "insert")
    ]
    # Crossing the rename is serveable (r18): the enable + rename
    # commits are metadata-only — physical shape identical — so the
    # feed spans them and serves under to_version's logical names.
    spanning = dl.delta_changes(spark, tbl, 0, 3).collect()
    assert [(r["key"], r["val"], r["_change_type"]) for r in spanning] == [
        (2, 20.0, "insert")
    ]


def test_checkpoint_carries_current_protocol(spark, tmp_path):
    """A checkpoint of a column-mapped table must carry (2, 5), not a
    hardcoded floor — otherwise log GC silently unfences old readers."""
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    dl.delta_enable_column_mapping(spark, tbl)
    [final] = dl.delta_checkpoint(spark, tbl, 1)
    protos = [
        r["protocol"]
        for r in pq.read_table(final, columns=["protocol"]).to_pylist()
        if r["protocol"] and r["protocol"]["minReaderVersion"] is not None
    ]
    assert protos and protos[0]["minReaderVersion"] == 2
    assert protos[0]["minWriterVersion"] == 5


def test_timestamp_resolution_without_commitinfo(spark, tmp_path):
    """A foreign commit lacking commitInfo (or carrying it after other
    actions) still resolves for TIMESTAMP AS OF via the log file's own
    mtime — it must never be invisible."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 5), tbl)
    # Foreign v1: add-first, NO commitInfo anywhere.
    df = spark.createDataFrame([(99, "z")], "k long, g string")
    df.coalesce(1).write.parquet(str(tmp_path / "stage"))
    data = next(
        n for n in os.listdir(tmp_path / "stage") if n.endswith(".parquet")
    )
    os.rename(
        tmp_path / "stage" / data, os.path.join(tbl, "foreign.parquet")
    )
    dl._commit(tbl, 1, [{
        "add": {
            "path": "foreign.parquet", "partitionValues": {},
            "size": os.path.getsize(os.path.join(tbl, "foreign.parquet")),
            "modificationTime": 0, "dataChange": True,
        }
    }])
    v = dl.version_at_timestamp(tbl, dl._now_ms() + 60_000)
    assert v == 1  # the undated commit resolves via file mtime
    assert 99 in _ks(dl.delta_snapshot(spark, tbl, timestamp_ms=dl._now_ms() + 60_000))


def test_rename_and_drop_blocked_by_constraint_reference(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0)], "k long, val double"),
        tbl,
    )
    dl.delta_enable_column_mapping(spark, tbl)
    dl.delta_add_constraint(spark, tbl, "pos", "val >= 0")
    with pytest.raises(dl.DeltaProtocolError, match="referenced by CHECK"):
        dl.delta_rename_column(spark, tbl, "val", "price")
    with pytest.raises(dl.DeltaProtocolError, match="referenced by CHECK"):
        dl.delta_drop_column(spark, tbl, "val")
    dl.delta_drop_constraint(spark, tbl, "pos")
    dl.delta_rename_column(spark, tbl, "val", "price")
    assert set(dl.delta_snapshot(spark, tbl).columns) == {"k", "price"}


def test_append_retry_rechecks_concurrently_added_constraint(
    spark, tmp_path, monkeypatch
):
    """Writer stages a batch, loses the race to an ADD CONSTRAINT commit,
    and the retry must re-validate the staged rows under the new rule."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0)], "k long, val double"),
        tbl,
    )
    real_commit = dl._commit
    fired = {"done": False}

    def racing_commit(table, version, actions):
        if not fired["done"] and any("add" in a for a in actions):
            fired["done"] = True
            meta = dl._peek_meta(table)
            conf = dict(meta.get("configuration") or {})
            conf["delta.constraints.pos"] = "val >= 0"
            real_commit(table, version, [
                {"commitInfo": {"timestamp": dl._now_ms(),
                                "operation": "ADD CONSTRAINT",
                                "operationParameters": {}}},
                {"metaData": {**meta, "configuration": conf}},
            ])  # the racer wins this version...
        return real_commit(table, version, actions)  # ...and we collide

    monkeypatch.setattr(dl, "_commit", racing_commit)
    bad = spark.createDataFrame([(2, -5.0)], "k long, val double")
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_append(spark, bad, tbl)
    # The violating batch never landed.
    assert {r["k"] for r in dl.delta_snapshot(spark, tbl).collect()} == {1}


def test_optimize_zorder_on_mapped_table(spark, tmp_path):
    """ZORDER on a column-mapped, renamed table: bounds resolve through
    the physical-name stats, clustering works, logical reads intact."""
    from opencode_hive_archon_spark.sources import deltastats as ds

    tbl = str(tmp_path / "t")
    df = spark.range(2048).select(
        (F.col("id") % 32).alias("a"), (F.col("id") / 32).cast("long").alias("b")
    )
    dl.delta_write(spark, df.repartition(8), tbl)
    dl.delta_enable_column_mapping(spark, tbl)
    dl.delta_rename_column(spark, tbl, "a", "x")
    state = dl._snapshot_state(spark, tbl)
    target = max(1, sum(f["size"] for f in state["files"]) // 4)
    v = dl.delta_optimize(spark, tbl, target_bytes=target, zorder_by=["x", "b"])
    assert v is not None
    total, scanned = ds.delta_scan_accounting(spark, tbl, "x < 4")
    assert scanned < total
    got = sorted(r["x"] * 100000 + r["b"] for r in dl.delta_snapshot(spark, tbl).collect())
    want = sorted((i % 32) * 100000 + i // 32 for i in range(2048))
    assert got == want


def test_constraint_reference_guard_is_case_insensitive(spark, tmp_path):
    """Spark resolves identifiers case-insensitively; the rename guard
    must too, or 'VAL >= 0' lets `val` be renamed and bricks writes."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0)], "k long, val double"),
        tbl,
    )
    dl.delta_enable_column_mapping(spark, tbl)
    dl.delta_add_constraint(spark, tbl, "pos", "VAL >= 0")
    with pytest.raises(dl.DeltaProtocolError, match="referenced by CHECK"):
        dl.delta_rename_column(spark, tbl, "val", "price")


def test_incomplete_checkpoint_never_resets_version_counter(spark, tmp_path):
    """A checkpoint that lost a part must still COUNT as version
    evidence: the next writer must continue the sequence (loud replay
    failure), never restart at v0 and silently fork the table. Debris
    from a crashed attempt with a different part-count must not hide a
    complete set either."""
    tbl = str(tmp_path / "t")
    for i in range(4):
        dl.delta_write(spark, _df(spark, i * 10, i * 10 + 10).repartition(1), tbl)
    finals = dl.delta_checkpoint(spark, tbl, 3, max_actions_per_part=2)
    # Plant mixed-n debris from a "crashed attempt": part 1 of 9.
    debris = os.path.join(
        dl._log_dir(tbl),
        f"{3:020d}.checkpoint.{1:010d}.{9:010d}.parquet",
    )
    import shutil as _shutil
    _shutil.copy(finals[0], debris)
    # The complete set is still found despite the debris.
    assert dl._checkpoint_versions(tbl) == [3]
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(40))
    # GC the JSONs, then lose a part of the complete set.
    for v in range(4):
        os.remove(dl._version_file(tbl, v))
    os.remove(finals[0])
    # Replay is loud...
    with pytest.raises(dl.DeltaProtocolError):
        dl.delta_snapshot(spark, tbl)
    # ...and the version counter does NOT reset: the next append errors
    # (replay fails) instead of silently creating a fresh v0 table.
    assert dl.latest_version(tbl) == 3
    with pytest.raises(dl.DeltaProtocolError):
        dl.delta_write(spark, _df(spark, 100, 101), tbl)
    assert not os.path.exists(dl._version_file(tbl, 0))


def test_foreign_mapped_partitioned_table_reads(spark, tmp_path):
    """A FOREIGN column-mapped PARTITIONED table (fully-uuid physical
    names, physical hive dirs, physical partitionValues keys, LOGICAL
    partitionColumns — the delta-spark layout) reads correctly under
    its logical schema (r18; this combination was refused through r17)."""
    tbl = str(tmp_path / "t")
    os.makedirs(os.path.join(tbl, "_delta_log"))
    data_dir = os.path.join(tbl, "col-def=a")
    os.makedirs(data_dir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"col-abc": pa.array([1, 2], pa.int64())}),
        os.path.join(data_dir, "f1.parquet"),
    )
    schema_json = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-abc"}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-def"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "x", "name": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": ["p"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }},
        {"add": {"path": "col-def=a/f1.parquet", "partitionValues":
                 {"col-def": "a"}, "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    snap = dl.delta_snapshot(spark, tbl)
    assert set(snap.columns) == {"k", "p"}
    assert {(r["k"], r["p"]) for r in snap.collect()} == {(1, "a"), (2, "a")}


def test_describe_history(spark, tmp_path):
    """DESCRIBE HISTORY: newest-first retained commits with operation
    labels and parameters. Every engine writer leaves exactly one commit
    whose commitInfo is its first and only commitInfo action, stamped no
    earlier than the commit before it; the interval checkpoint lands on
    v4 although v4 is a metadata-only ALTER; a no-op OPTIMIZE leaves no
    commit."""
    tbl = str(tmp_path / "t")

    def rows(*ks):
        return spark.createDataFrame(
            [(k, float(k)) for k in ks], "k long, val double"
        ).repartition(1)

    steps = [
        ("WRITE", {"mode": "APPEND"},
         lambda: dl.delta_write(spark, rows(*range(10)), tbl)),
        ("WRITE", {"mode": "APPEND"},
         lambda: dl.delta_write(spark, rows(10, 11), tbl, mode="append")),
        ("WRITE", {"mode": "APPEND"},
         lambda: dl.delta_append(spark, rows(12, 13), tbl)),
        ("DELETE", {"predicate": "k >= 12"},
         lambda: dl.delta_delete(spark, tbl, "k >= 12")),
        ("SET TBLPROPERTIES", {"properties": '{"owner": "ops"}'},
         lambda: dl.delta_set_property(spark, tbl, "owner", "ops")),
        ("ADD CONSTRAINT", {"name": "pos", "expr": "val >= 0"},
         lambda: dl.delta_add_constraint(spark, tbl, "pos", "val >= 0")),
        ("UPDATE", {"predicate": "k = 1", "set": '{"val": "val + 100"}'},
         lambda: dl.delta_update(spark, tbl, "k = 1", {"val": "val + 100"})),
        ("MERGE", {"matchedPredicates": "update",
                   "notMatchedPredicates": "insert", "mergeKeys": '["k"]'},
         lambda: dl.delta_merge(spark, tbl, rows(2, 30), on=["k"])),
        ("OPTIMIZE", {"targetBytes": str(1 << 30)},
         lambda: dl.delta_optimize(spark, tbl, target_bytes=1 << 30)),
        ("WRITE", {"mode": "OVERWRITE"},
         lambda: dl.delta_write(spark, rows(0, 1), tbl, mode="overwrite")),
        ("RESTORE", {"version": "8"},
         lambda: dl.delta_restore(spark, tbl, 8)),
        ("DROP CONSTRAINT", {"name": "pos"},
         lambda: dl.delta_drop_constraint(spark, tbl, "pos")),
        ("SET TBLPROPERTIES", {"delta.columnMapping.mode": "name"},
         lambda: dl.delta_enable_column_mapping(spark, tbl)),
        ("RENAME COLUMN", {"from": "val", "to": "price"},
         lambda: dl.delta_rename_column(spark, tbl, "val", "price")),
        ("DROP COLUMN", {"name": "price"},
         lambda: dl.delta_drop_column(spark, tbl, "price")),
    ]
    for v, (_, _, run) in enumerate(steps):
        assert run() == v
    assert dl.delta_optimize(spark, tbl, target_bytes=1) is None  # no-op
    hist = dl.delta_history(spark, tbl).collect()
    assert [r["version"] for r in hist] == list(range(len(steps)))[::-1]
    assert [
        (r["operation"], r["operationParameters"]) for r in reversed(hist)
    ] == [(op, params) for op, params, _ in steps]
    stamps = [r["timestamp"] for r in reversed(hist)]
    assert stamps[0] > 0 and stamps == sorted(stamps)
    for v in range(len(steps)):
        actions = dl._load_commit_actions(tbl, v)
        assert "commitInfo" in actions[0]
        assert sum("commitInfo" in a for a in actions) == 1
    assert dl._checkpoint_versions(tbl) == [4, 9, 14]
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(12)) + [30]

    clone = str(tmp_path / "c")
    assert dl.delta_clone(spark, tbl, clone) == 0
    (row,) = dl.delta_history(spark, clone).collect()
    assert (row["operation"], row["operationParameters"]) == (
        "CLONE",
        {"source": os.path.abspath(tbl), "sourceVersion": "14"},
    )
    with pytest.raises(dl.DeltaProtocolError, match="not a delta table"):
        dl.delta_history(spark, str(tmp_path / "nope"))


def test_restore_resets_configuration(spark, tmp_path):
    """ADVICE r15 #2: a CHECK constraint added AFTER the restore target
    must not survive the restore — RESTORE resets the full metaData
    (configuration included), not just schema shape."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark, spark.createDataFrame([(1,), (2,)], "k long"), tbl
    )
    dl.delta_add_constraint(spark, tbl, "k_pos", "k > 0")
    conf = dl._snapshot_state(spark, tbl)["meta"]["configuration"] or {}
    assert "delta.constraints.k_pos" in conf
    dl.delta_restore(spark, tbl, 0)
    conf = dl._snapshot_state(spark, tbl)["meta"]["configuration"] or {}
    assert "delta.constraints.k_pos" not in conf
    # The formerly-forbidden write now passes — the constraint is gone.
    dl.delta_write(
        spark, spark.createDataFrame([(-1,)], "k long"), tbl, mode="append"
    )
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [-1, 1, 2]


def test_legacy_raw_percent_path_stays_readable(spark, tmp_path):
    """ADVICE r15 #3: a pre-encoding log stored RAW on-disk paths; a
    legacy action path with a literal '%' must resolve via the raw-form
    fallback (decoding would point at a nonexistent file), and VACUUM
    must treat the raw form as referenced."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1,), (2,)], "k long").repartition(1),
        tbl,
    )
    state = dl._snapshot_state(spark, tbl)
    old_rel = state["files"][0]["path"]
    legacy_rel = "p=a%20b-" + old_rel.rsplit("/", 1)[-1]
    os.rename(os.path.join(tbl, old_rel), os.path.join(tbl, legacy_rel))
    # Rewrite v0's add action to the legacy RAW name (as the pre-encoding
    # build would have written it: '%20' stored literally, not '%2520').
    vf = dl._version_file(tbl, 0)
    with open(vf) as fh:
        lines = [json.loads(l) for l in fh if l.strip()]
    for a in lines:
        if "add" in a:
            a["add"]["path"] = legacy_rel
            a["add"]["stats"] = None
    with open(vf, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in lines)
    assert dl._rel_path(tbl, legacy_rel) == legacy_rel  # raw fallback
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [1, 2]
    assert dl.delta_count(spark, tbl) == 2
    # VACUUM with zero retention must NOT sweep the legacy-named file.
    dl.delta_vacuum(spark, tbl, retain_ms=0)
    assert os.path.exists(os.path.join(tbl, legacy_rel))
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [1, 2]
    # A spec-clean encoded path still decodes (fallback never fires).
    assert dl._rel_path(tbl, "x%20y.parquet") == "x y.parquet"


def test_cdf_update_images_for_merge(spark, tmp_path):
    """A MERGE commit's change feed is ROW-granular: matched-and-changed
    rows become update_pre/postimage pairs, new keys inserts, and rows
    the rewrite merely carried are elided entirely."""
    tbl = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, float(k * 10)) for k in range(1, 7)], "k long, v double"
    ).repartition(1)
    dl.delta_write(spark, base, tbl)
    src = spark.createDataFrame(
        [(2, 200.0), (4, 400.0), (10, 1000.0)], "k long, v double"
    )
    dl.delta_merge(spark, tbl, src, on=["k"])
    feed = dl.delta_changes(spark, tbl, 0, 1).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append((r["k"], r["v"]))
    assert sorted(by_type["update_preimage"]) == [(2, 20.0), (4, 40.0)]
    assert sorted(by_type["update_postimage"]) == [(2, 200.0), (4, 400.0)]
    assert sorted(by_type["insert"]) == [(10, 1000.0)]
    assert "delete" not in by_type  # merge deleted nothing
    carried = {1, 3, 5, 6}
    assert not carried & {k for k, _ in by_type["update_preimage"]}
    assert all(r["_commit_version"] == 1 for r in feed)


def test_cdf_merge_noop_update_elided(spark, tmp_path):
    """UPDATE SET * with an identical payload is indistinguishable from a
    carried row at file level — documented elision, not a delete."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
        .repartition(1),
        tbl,
    )
    dl.delta_merge(
        spark, tbl,
        spark.createDataFrame([(1, 10.0)], "k long, v double"), on=["k"],
    )
    feed = dl.delta_changes(spark, tbl, 0, 1).collect()
    assert feed == []  # nothing actually changed


def test_cdf_merge_dup_target_keys_fall_back_to_file_level(spark, tmp_path):
    """Duplicate merge keys in the TARGET are legal (every matched row
    updates); the pairing would fabricate cross products, so the feed
    falls back to file-level insert/delete classes for that commit."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(1, 10.0), (1, 11.0), (2, 20.0)], "k long, v double"
        ).repartition(1),
        tbl,
    )
    dl.delta_merge(
        spark, tbl,
        spark.createDataFrame([(1, 99.0)], "k long, v double"), on=["k"],
    )
    feed = dl.delta_changes(spark, tbl, 0, 1).collect()
    types = {r["_change_type"] for r in feed}
    assert types == {"insert", "delete"}
    # Both copies of k=1 were updated to 99.0 (merge semantics intact).
    ins = sorted((r["k"], r["v"]) for r in feed if r["_change_type"] == "insert")
    assert ins == [(1, 99.0), (1, 99.0), (2, 20.0)]


def test_cdf_stream_source_signed_sums_match_snapshot(spark, tmp_path):
    """delta_cdf_stream serves tagged insert/delete rows per tailed
    commit; signed accumulation over the feed from v0 must reproduce the
    final snapshot's aggregate exactly (carried rows cancel)."""
    import pyspark.sql.functions as SF

    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(20)], "k long, v double"
        ).repartition(2),
        tbl,
    )
    dl.delta_write(
        spark,
        spark.createDataFrame([(100, 100.0)], "k long, v double"),
        tbl, mode="append",
    )
    dl.delta_delete(spark, tbl, "k >= 15 AND k < 20")
    spark.dataSource.register(dl.DeltaCdfStreamSource)
    sink = f"cdf_sink_{abs(hash(tbl)) % 10**8}"
    q = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed = spark.table(sink)
    sign = SF.when(SF.col("_change_type") == "insert", 1).otherwise(-1)
    got = feed.agg(
        SF.sum(sign).alias("n"),
        SF.sum(sign * SF.col("v")).alias("sv"),
    ).collect()[0]
    snap = dl.delta_snapshot(spark, tbl).agg(
        SF.count(SF.lit(1)).alias("n"), SF.sum("v").alias("sv")
    ).collect()[0]
    assert got["n"] == snap["n"]
    assert abs(got["sv"] - snap["sv"]) < 1e-9
    # Both classes actually flowed, and versions tag correctly.
    types = {r["_change_type"] for r in feed.collect()}
    assert types == {"insert", "delete"}
    assert feed.agg(SF.max("_commit_version")).collect()[0][0] == 2
    # startingVersion skips the seed commit.
    sink2 = sink + "_sv"
    q2 = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", tbl)
        .option("startingVersion", 1)
        .load()
        .writeStream.format("memory")
        .queryName(sink2)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    vs = {r["_commit_version"] for r in spark.table(sink2).collect()}
    assert vs == {2}


def test_delta_update_semantics(spark, tmp_path):
    """UPDATE SET/WHERE: matching rows re-evaluated, NULL-predicate rows
    kept, non-hit files untouched, unknown SET columns refused."""
    tbl = str(tmp_path / "t")
    for lo, hi in ((0, 10), (10, 20)):
        dl.delta_write(
            spark,
            spark.createDataFrame(
                [(k, float(k)) for k in range(lo, hi)], "k long, val double"
            ).repartition(1),
            tbl, mode="append",
        )
    before = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    dl.delta_update(spark, tbl, "k >= 15", {"val": "val * 10 + k"})
    snap = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    for k in range(20):
        assert snap[k] == (k * 10.0 + k if k >= 15 else float(k)), k
    after = {f["path"] for f in dl._snapshot_state(spark, tbl)["files"]}
    assert len(before & after) == 1  # first band untouched
    with pytest.raises(dl.DeltaProtocolError, match="unknown column"):
        dl.delta_update(spark, tbl, "k = 0", {"nope": "1"})
    # Update through a CHECK constraint: violating re-evaluation refused.
    dl.delta_add_constraint(spark, tbl, "val_nonneg", "val >= 0")
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraint"):
        dl.delta_update(spark, tbl, "k = 0", {"val": "-1.0"})
    # The refused attempt burned a version but changed no rows.
    snap2 = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    assert snap2 == snap


def test_delta_update_over_dv_file_purges(spark, tmp_path):
    """UPDATE on a DV'd file rewrites it: the DV's dead rows stay dead,
    live matching rows re-evaluate, and the new file carries no DV."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, val double"
        ).repartition(1),
        tbl,
    )
    dl.delta_delete(spark, tbl, "k >= 8", use_dv=True)
    dl.delta_update(spark, tbl, "k < 3", {"val": "val + 100"})
    snap = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    assert sorted(snap) == list(range(8))
    assert snap[0] == 100.0 and snap[2] == 102.0 and snap[5] == 5.0
    state = dl._snapshot_state(spark, tbl)
    assert all(not f.get("deletionVector") for f in state["files"])


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """SHALLOW CLONE: zero bytes copied (no parquet under the clone
    root), content identical at clone time, then both tables diverge
    independently — clone mutations never touch source storage (VACUUM
    included), source mutations never reach the clone."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(2), src)
    dl.delta_delete(spark, src, "k = 9", use_dv=True)  # source has a DV
    dl.delta_clone(spark, src, tgt)
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(9))
    assert dl.delta_count(spark, tgt) == 9  # stats (and DV) cloned
    assert not [n for n in os.listdir(tgt) if n.endswith(".parquet")]
    # Clone-side delete rewrites LOCALLY and de-references source files.
    dl.delta_delete(spark, tgt, "k >= 7")
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(7))
    assert _ks(dl.delta_snapshot(spark, src)) == list(range(9))
    # VACUUM on the clone must never delete outside its own root.
    dl.delta_vacuum(spark, tgt, retain_ms=0)
    assert _ks(dl.delta_snapshot(spark, src)) == list(range(9))
    # Source-side append is invisible to the clone.
    dl.delta_write(
        spark,
        spark.createDataFrame([(100, "x")], "k long, g string"),
        src, mode="append",
    )
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(7))
    # UPDATE and MERGE reach external files through abs-path discovery.
    dl.delta_update(spark, tgt, "k = 0", {"g": "'updated'"})
    got = {r["k"]: r["g"] for r in dl.delta_snapshot(spark, tgt).collect()}
    assert got[0] == "updated" and got[1] == "a"


def test_shallow_clone_refusals(spark, tmp_path):
    src2 = str(tmp_path / "src2")
    tgt = str(tmp_path / "tgt")
    dl.delta_write(spark, _df(spark, 0, 5), src2)
    dl.delta_clone(spark, src2, tgt)
    with pytest.raises(dl.DeltaProtocolError, match="already a delta table"):
        dl.delta_clone(spark, src2, tgt)


def test_shallow_clone_partitioned_source(spark, tmp_path):
    """r17: a PARTITIONED source clones zero-copy — partition columns
    resolve through per-root basePath scans; partition-pruned reads,
    copy-on-write divergence and VACUUM isolation all hold."""
    from opencode_hive_archon_spark.sources import deltastats as ds

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("long").alias("bucket"),
    ).repartition(3)
    dl.delta_write(spark, df, src, partition_by=["bucket"])
    dl.delta_clone(spark, src, tgt)
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(30))
    # Zero bytes copied.
    assert not [
        n for _, _, ns in os.walk(tgt) for n in ns if n.endswith(".parquet")
    ]
    # Partition values survive the multi-root read, and partition
    # pruning still works on the clone.
    got = sorted(
        r["k"] for r in ds.delta_scan(spark, tgt, "bucket = 1").collect()
    )
    assert got == [k for k in range(30) if k % 3 == 1]
    total, scanned = ds.delta_scan_accounting(spark, tgt, "bucket = 1")
    assert scanned < total
    # Copy-on-write divergence: the clone's DELETE rewrites ONLY the hit
    # partitions LOCALLY (hive layout under the clone root), and mixed
    # internal/external partitioned scans stay correct.
    dl.delta_delete(spark, tgt, "k >= 27")
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(27))
    assert _ks(dl.delta_snapshot(spark, src)) == list(range(30))
    assert [
        n for _, _, ns in os.walk(tgt) for n in ns if n.endswith(".parquet")
    ]
    got = {
        (r["k"], r["bucket"])
        for r in dl.delta_snapshot(spark, tgt).collect()
    }
    assert got == {(k, k % 3) for k in range(27)}
    # VACUUM on the clone never reaches into the source.
    dl.delta_vacuum(spark, tgt, retain_ms=0)
    assert _ks(dl.delta_snapshot(spark, src)) == list(range(30))
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(27))


def test_shallow_clone_time_travel_and_checkpoint(spark, tmp_path):
    """The clone's history starts at its own v0; checkpointing the clone
    preserves the absolute add paths through replay."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), src)
    dl.delta_clone(spark, src, tgt)
    for b in range(1, 6):  # enough commits to cross CHECKPOINT_INTERVAL
        dl.delta_write(
            spark,
            spark.createDataFrame([(100 + b, "x")], "k long, g string"),
            tgt, mode="append",
        )
    assert dl._snapshot_state(spark, tgt)["checkpoint_version"] is not None
    assert _ks(dl.delta_snapshot(spark, tgt, version=0)) == list(range(10))
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(10)) + [
        101, 102, 103, 104, 105
    ]


def test_shallow_clone_of_optimized_source_feeds_cdf(spark, tmp_path):
    """A source file written by OPTIMIZE carries dataChange:false; the
    clone must force TRUE on its adds or a change-feed consumer would
    skip the whole table."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    for lo, hi in ((0, 5), (5, 10)):
        dl.delta_write(spark, _df(spark, lo, hi).repartition(1), src,
                       mode="append")
    assert dl.delta_optimize(spark, src, target_bytes=1 << 30) is not None
    dl.delta_clone(spark, src, tgt)
    feed = dl.delta_changes(spark, tgt, -1, 0)
    assert sorted(r["k"] for r in feed.collect()) == list(range(10))
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}


def test_cdf_stream_rate_limited_multi_batch(spark, tmp_path):
    """r17: maxFilesPerTrigger drains a burst of commits in BOUNDED
    micro-batches; the MV-style signed aggregate is batching-invariant,
    so the rate-limited result equals the unlimited one exactly."""
    import pyspark.sql.functions as SF

    tbl = str(tmp_path / "t")
    for i in range(6):  # 6 commits, 1 change file each
        dl.delta_write(
            spark,
            spark.createDataFrame(
                [(i * 10 + j, float(i)) for j in range(5)],
                "k long, v double",
            ).repartition(1),
            tbl, mode="append",
        )
    dl.delta_delete(spark, tbl, "k < 10")  # fully-dead file: 1 remove
    spark.dataSource.register(dl.DeltaCdfStreamSource)
    sink = f"cdf_rl_{abs(hash(tbl)) % 10**8}"
    q = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", tbl)
        .option("maxFilesPerTrigger", 2)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    feed = spark.table(sink)
    # >= 4 non-empty batches (9 change files / 2 per trigger).
    assert n_batches >= 4
    sign = SF.when(SF.col("_change_type") == "insert", 1).otherwise(-1)
    got = feed.agg(
        SF.sum(sign).alias("n"), SF.sum(sign * SF.col("v")).alias("sv")
    ).collect()[0]
    snap = dl.delta_snapshot(spark, tbl).agg(
        SF.count(SF.lit(1)).alias("n"), SF.sum("v").alias("sv")
    ).collect()[0]
    assert got["n"] == snap["n"]
    assert abs(got["sv"] - snap["sv"]) < 1e-9
    # Every served version is complete (no commit torn ACROSS the final
    # state) and all 7 data-changing commits flowed.
    assert {r["_commit_version"] for r in feed.collect()} == set(range(7))


def test_cdf_stream_partitioned_table(spark, tmp_path):
    """r17: a PARTITIONED table streams through delta_cdf_stream with
    its partition columns injected from partitionValues — values, types
    and signed aggregates all match the snapshot."""
    import pyspark.sql.functions as SF

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)],
        "k long, bucket long, v double",
    ).repartition(3)
    dl.delta_write(spark, df, tbl, partition_by=["bucket"])
    dl.delta_delete(spark, tbl, "k >= 24")
    spark.dataSource.register(dl.DeltaCdfStreamSource)
    sink = f"cdf_part_{abs(hash(tbl)) % 10**8}"
    q = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed = spark.table(sink)
    assert dict(feed.dtypes)["bucket"] == "bigint"
    sign = SF.when(SF.col("_change_type") == "insert", 1).otherwise(-1)
    got = {
        r["bucket"]: (r["n"], r["sv"])
        for r in feed.groupBy("bucket").agg(
            SF.sum(sign).alias("n"),
            SF.sum(sign * SF.col("v")).alias("sv"),
        ).collect()
    }
    want = {
        r["bucket"]: (r["n"], r["sv"])
        for r in dl.delta_snapshot(spark, tbl).groupBy("bucket").agg(
            SF.count(SF.lit(1)).alias("n"), SF.sum("v").alias("sv")
        ).collect()
    }
    assert set(got) == set(want)
    for b in want:
        assert got[b][0] == want[b][0]
        assert abs(got[b][1] - want[b][1]) < 1e-9


def test_stream_source_serves_dv_adds_live_rows(spark, tmp_path):
    """r17: a DV supersede's add (dataChange: true) re-emits its LIVE
    rows only — the same re-emit contract a copy-on-write rewrite has;
    deleted rows never flow."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    spark.dataSource.register(dl.DeltaLogStreamSource)
    q = (
        spark.readStream.format("delta_log_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName("dv_tail")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["k"] for r in spark.sql("SELECT k FROM dv_tail").collect()
    )
    # v0 emits 0..9; v1's DV'd re-add emits survivors 0..6 again.
    assert got == sorted(list(range(10)) + list(range(7)))


def test_append_only_table_property(spark, tmp_path):
    """r17: delta.appendOnly=true (PROTOCOL.md writer feature) refuses
    every data-changing/removing verb while appends and OPTIMIZE
    (dataChange: false) stay legal; unsetting restores them."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(2), tbl)
    dl.delta_set_property(spark, tbl, "delta.appendOnly", "true")
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_delete(spark, tbl, "k = 1")
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_delete(spark, tbl, "k = 1", use_dv=True)
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_update(spark, tbl, "k = 1", {"g": "'x'"})
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_merge(
            spark, tbl,
            spark.createDataFrame([(1, "z")], "k long, g string"),
            on=["k"],
        )
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_write(spark, _df(spark, 0, 1), tbl, mode="overwrite")
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.delta_restore(spark, tbl, 0)
    # Appends and dataChange:false rearrangements stay legal.
    dl.delta_write(spark, _df(spark, 10, 12), tbl, mode="append")
    assert dl.delta_optimize(spark, tbl, target_bytes=1 << 30) is not None
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(12))
    # Unset (set to false) re-enables the verbs.
    dl.delta_set_property(spark, tbl, "delta.appendOnly", "false")
    dl.delta_delete(spark, tbl, "k = 0")
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(1, 12))


def test_set_property_guards_special_keys(spark, tmp_path):
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 3), tbl)
    with pytest.raises(dl.DeltaProtocolError, match="delta_add_constraint"):
        dl.delta_set_property(spark, tbl, "delta.constraints.c", "k > 0")
    with pytest.raises(
        dl.DeltaProtocolError, match="delta_enable_column_mapping"
    ):
        dl.delta_set_property(spark, tbl, "delta.columnMapping.mode", "name")


def test_vacuum_honors_retention_configuration(spark, tmp_path):
    """r17: with retain_ms omitted, VACUUM reads the table's
    delta.deletedFileRetentionDuration — a week-long interval keeps a
    fresh tombstone's file; an explicit retain_ms=0 still overrides."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10).repartition(1), tbl)
    dl.delta_set_property(
        spark, tbl, "delta.deletedFileRetentionDuration", "interval 1 week"
    )
    dl.delta_delete(spark, tbl, "k >= 0")  # tombstones the only file
    assert dl.delta_vacuum(spark, tbl) == []  # config interval retains
    assert dl.delta_snapshot(spark, tbl, version=0).count() == 10
    assert dl.delta_vacuum(spark, tbl, retain_ms=0)  # explicit override
    with pytest.raises(Exception, match="not exist|PATH_NOT_FOUND"):
        dl.delta_snapshot(spark, tbl, version=0).collect()
    # Malformed intervals fail loudly, not as a silent 0.
    tbl2 = str(tmp_path / "t2")
    dl.delta_write(spark, _df(spark, 0, 3), tbl2)
    dl.delta_set_property(
        spark, tbl2, "delta.deletedFileRetentionDuration", "1 fortnight"
    )
    with pytest.raises(dl.DeltaProtocolError, match="interval"):
        dl.delta_vacuum(spark, tbl2)


def test_metadata_cleanup_respects_checkpoint_and_retention(spark, tmp_path):
    """r17: delta_cleanup_metadata deletes commit JSONs (and superseded
    checkpoints) behind the newest checkpoint once past
    delta.logRetentionDuration; replay from the retained tail is
    unaffected; fresh JSONs and checkpoint-less tables are untouched."""
    tbl = str(tmp_path / "t")
    for lo in range(0, 12, 2):
        dl.delta_write(
            spark, _df(spark, lo, lo + 2).repartition(1), tbl, mode="append"
        )
    # CHECKPOINT_INTERVAL=5 auto-checkpointed at v4; horizon = 4.
    assert dl._checkpoint_versions(tbl) == [4]
    # Fresh files: default 30-day retention keeps everything.
    assert dl.delta_cleanup_metadata(spark, tbl) == []
    # Shrink retention via configuration and age the files.
    dl.delta_set_property(
        spark, tbl, "delta.logRetentionDuration", "interval 1 second"
    )
    for v in range(5):
        os.utime(dl._version_file(tbl, v), (0, 0))
    deleted = dl.delta_cleanup_metadata(spark, tbl)
    assert sorted(deleted) == [
        f"{v:020d}.json" for v in range(4)
    ]
    # Replay still reconstructs from checkpoint v4 + the JSON tail.
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(12))
    assert dl.latest_version(tbl) == 6  # 6 writes + SET TBLPROPERTIES
    # Time travel past the horizon now fails loudly.
    with pytest.raises(dl.DeltaProtocolError):
        dl.delta_snapshot(spark, tbl, version=1).collect()
    # A table with no checkpoint is never cleaned.
    tbl2 = str(tmp_path / "t2")
    dl.delta_write(spark, _df(spark, 0, 2), tbl2)
    dl.delta_set_property(
        spark, tbl2, "delta.logRetentionDuration", "interval 1 second"
    )
    os.utime(dl._version_file(tbl2, 0), (0, 0))
    assert dl.delta_cleanup_metadata(spark, tbl2) == []


def _canon_state(st):
    """Replay output with list order dropped — what a checkpoint must
    reproduce of the JSON replay it summarizes."""
    return {
        "files": sorted(json.dumps(f, sort_keys=True) for f in st["files"]),
        "tombstones": sorted(
            json.dumps(f, sort_keys=True) for f in st["tombstones"]
        ),
        "protocol": st["protocol"],
        "meta": st["meta"],
        "txns": st["txns"],
    }


def _canon_actions(pairs):
    return sorted(json.dumps({k: a}, sort_keys=True) for k, a in pairs)


def test_checkpoint_replay_matches_json_replay(spark, tmp_path):
    """A checkpoint decoded column by column must replay to the SAME state
    as the JSON commits it summarizes — files (incl. DV structs and
    partitionValues maps), tombstones, metaData, protocol (reader-3
    feature arrays) and txn watermarks — through a multi-part checkpoint
    whose parts carry mostly-null action columns, then a single-file one."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark, _df(spark, 0, 40, "a").repartition(2), tbl,
        partition_by=["g"],
    )
    for i in range(6):  # crosses CHECKPOINT_INTERVAL
        dl.delta_write(
            spark, _df(spark, 40 + 10 * i, 50 + 10 * i, "b").repartition(1),
            tbl, mode="append", txn=("app-replay", i),
        )
    dl.delta_delete(spark, tbl, "k >= 80")
    dl.delta_delete(spark, tbl, "k = 41", use_dv=True)
    target = dl.latest_version(tbl)
    before = dl._snapshot_state(spark, tbl)
    assert before["checkpoint_version"] is not None  # auto checkpoint base
    json_only = dl._replay_driver(tbl, None, list(range(target + 1)))
    assert any(f.get("deletionVector") for f in json_only["files"])
    assert json_only["tombstones"] and json_only["txns"]

    assert _canon_state(json_only) == _canon_state(before)
    # Multi-part first; the single-file checkpoint written next takes
    # precedence at the same version and mixes DV'd and plain adds in one
    # column.
    for per_part in (2, dl.CHECKPOINT_PART_ACTIONS):
        parts = dl.delta_checkpoint(
            spark, tbl, target, max_actions_per_part=per_part
        )
        assert (len(parts) > 1) == (per_part == 2)
        # Spark's own parquet reader loads every part with STATE_SCHEMA
        # and gets the actions the engine's replay decodes.
        by_spark = [
            (kind, row[kind].asDict(recursive=True))
            for row in spark.read.schema(dl.STATE_SCHEMA).parquet(*parts)
            .collect()
            for kind in dl.STATE_SCHEMA.names
            if row[kind] is not None
        ]
        by_engine = list(
            dl._checkpoint_actions(tbl, target, dl.STATE_SCHEMA.names)
        )
        assert len(by_engine) == len(by_spark) > 0
        assert _canon_actions(by_spark) == _canon_actions(by_engine)
        after = dl._snapshot_state(spark, tbl)
        assert (after["checkpoint_version"], after["json_replayed"]) == (
            target, 0,
        )
        assert _canon_state(after) == _canon_state(before), per_part
        for key in ("version", "partition_columns", "schema"):
            assert after[key] == before[key]


def _group_job_descriptions(spark, group: str, control: str) -> list[str]:
    """Descriptions of the jobs run under `group`, once the status store
    has seen the group's last job (described `control`)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def descs():
        out = []
        for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            d = store.job(j).description()
            out.append(d.get() if d.isDefined() else None)
        return out

    deadline = time.time() + 30
    got = descs()
    while control not in got and time.time() < deadline:
        time.sleep(0.05)
        got = descs()
    assert control in got, got
    return got


def _run_in_group(spark, group: str, fn, control: str = "control"):
    """Run `fn` and then a one-job control action under job group
    `group`; return `fn`'s result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "under test")
    try:
        out = fn()
        sc.setJobDescription(control)
        sc.parallelize([1]).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


def test_checkpoint_write_runs_no_spark_job(spark, tmp_path):
    """Checkpoint writes are driver-only, like replay: a single-file and
    a multi-part checkpoint issue no Spark job between them (the control
    action is the group's only job)."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10), tbl, partition_by=["g"])
    dl.delta_write(spark, _df(spark, 10, 20, "b"), tbl, mode="append")
    v = dl.latest_version(tbl)
    group = f"ckpt-{os.getpid()}-{tmp_path.name}"
    parts = _run_in_group(spark, group, lambda: (
        dl.delta_checkpoint(spark, tbl, v, max_actions_per_part=2)
        + dl.delta_checkpoint(spark, tbl, v)
    ))
    assert len(parts) > 2
    assert _group_job_descriptions(spark, group, "control") == ["control"]
    assert not [n for n in os.listdir(dl._log_dir(tbl)) if n.endswith(".tmp")]
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(20))


def test_replay_skips_malformed_actions(spark, tmp_path):
    """Spec-violating actions are dropped, from a commit JSON and from a
    checkpoint alike: an add/remove with a null path is no file, and a
    txn with a null version is no watermark (it neither becomes 0 nor
    lowers a real one)."""
    tbl = str(tmp_path / "t")
    schema = T.StructType([T.StructField("k", T.LongType())]).json()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 10,
                 "modificationTime": 1, "dataChange": True}},
        {"add": {"path": None, "partitionValues": {}, "size": 11,
                 "modificationTime": 1, "dataChange": True}},
        {"remove": {"path": None, "deletionTimestamp": 2,
                    "dataChange": True}},
        {"txn": {"appId": "good", "version": 3}},
        {"txn": {"appId": "good", "version": None}},
        {"txn": {"appId": "null-only", "version": None}},
    ]
    dl._commit(tbl, 0, actions)
    # A hand-written checkpoint at v1 holding the same malformed rows.
    dl._write_state_parquet(
        [{k: a[k]} for a in actions for k in a], dl._checkpoint_file(tbl, 1)
    )
    golden = {
        "files": [{
            "path": "a.parquet", "partitionValues": {}, "size": 10,
            "modificationTime": 1, "dataChange": True, "stats": None,
        }],
        "tombstones": [],
        "txns": {"good": 3},
        "meta": {
            "id": "m", "name": None,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        },
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
    }
    for v, ckpt in ((0, None), (1, 1)):
        st = dl._snapshot_state(spark, tbl, v)
        assert st["checkpoint_version"] == ckpt
        assert {k: st[k] for k in golden} == golden, f"v{v}"


def test_snapshot_replay_runs_no_spark_job(spark, tmp_path):
    """Log replay is driver-only: replaying a checkpoint plus a JSON tail
    issues no Spark job. A one-job control action in the same group
    proves the status tracker has caught up before the count is read."""
    tbl = str(tmp_path / "t")
    dl.delta_write(spark, _df(spark, 0, 10), tbl)
    for i in range(1, dl.CHECKPOINT_INTERVAL + 1):
        dl.delta_write(
            spark, _df(spark, 10 * i, 10 * i + 10), tbl, mode="append",
        )
    sc = spark.sparkContext
    group = f"replay-{os.getpid()}-{tmp_path.name}"
    sc.setJobGroup(group, "log replay")
    try:
        state = dl._snapshot_state(spark, tbl)
        sc.parallelize([1]).count()  # the control job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert state["checkpoint_version"] is not None
    assert state["json_replayed"] > 0
    deadline = time.time() + 30
    jobs = []
    while not jobs and time.time() < deadline:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        time.sleep(0.05)
    assert len(jobs) == 1, f"replay issued Spark jobs: {sorted(jobs)}"


def _plan_changes(spark, tbl, source):
    """Plan a read of the whole log through `source`: the batch feed,
    or a stream reader's partitions from its initial offset."""
    if source == "delta_changes":
        return dl.delta_changes(spark, tbl, -1, dl.latest_version(tbl))
    cls = {
        "delta_log_stream": dl.DeltaLogStreamSource,
        "delta_cdf_stream": dl.DeltaCdfStreamSource,
    }[source]
    src = cls({"path": tbl})
    reader = src.streamReader(src.schema())
    return reader.partitions(reader.initialOffset(), reader.latestOffset())


@pytest.mark.parametrize(
    "source", ["delta_changes", "delta_log_stream", "delta_cdf_stream"]
)
@pytest.mark.parametrize("change", ["new_schema", "partitioning"])
def test_feed_and_streams_refuse_layout_change_at_planning(
    spark, tmp_path, source, change
):
    """The batch feed and both stream sources share one guard: an
    overwrite that changes the schema, or only adds partition_by,
    raises a DeltaProtocolError naming the commit when the read is
    planned — not a task failure once executors open the old files.
    The feed names the commit that changed the layout; a stream,
    which serves the latest schema, names the first commit whose
    layout differs from it."""
    tbl = str(tmp_path / "t")
    rows = [(k, k % 2) for k in range(6)]
    dl.delta_write(spark, spark.createDataFrame(rows, "k long, p long"), tbl)
    if change == "new_schema":
        new = spark.createDataFrame([(9, 1, "x")], "k long, p long, tag string")
        dl.delta_write(spark, new, tbl, mode="overwrite")
    else:
        dl.delta_write(
            spark, spark.createDataFrame(rows, "k long, p long"), tbl,
            mode="overwrite", partition_by=["p"],
        )
    at = "v1" if source == "delta_changes" else "v0"
    with pytest.raises(
        dl.DeltaProtocolError, match=f"at commit {at} of"
    ):
        _plan_changes(spark, tbl, source)


def test_log_stream_resumes_from_legacy_offset(spark, tmp_path):
    """A log-stream checkpoint holds `{"version": v}` offsets, meaning
    'served through v'. Handed one as its start, the reader serves
    exactly the commits after it, up to the head."""
    tbl = str(tmp_path / "t")
    for lo in (0, 10, 20, 30):
        dl.delta_write(spark, _df(spark, lo, lo + 10).repartition(1), tbl)
    src = dl.DeltaLogStreamSource({"path": tbl})
    reader = src.streamReader(src.schema())
    parts = reader.partitions({"version": 1}, reader.latestOffset())
    got = sorted(
        row["k"]
        for p in parts
        for batch in reader.read(p)
        for row in batch.to_pylist()
    )
    assert got == list(range(20, 40))


# --- dynamic partition overwrite (mode="overwrite_partitions") -------------

def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k long, p long")


def _live(spark, tbl):
    """{path: (add entry, file bytes)} of the live files."""
    out = {}
    for f in dl._snapshot_state(spark, tbl)["files"]:
        with open(dl._abs_path(tbl, f["path"]), "rb") as fh:
            out[f["path"]] = (f, fh.read())
    return out


def _rows(spark, tbl, version=None):
    return sorted(
        (r["k"], r["p"])
        for r in dl.delta_snapshot(spark, tbl, version=version).collect()
    )


@pytest.fixture
def ptbl(spark, tmp_path):
    """A table partitioned by p with partitions 0, 1, 2 at v0."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark, _pdf(spark, [(k, k % 3) for k in range(9)]), tbl,
        partition_by=["p"],
    )
    return tbl


def test_overwrite_partitions_replaces_only_present_partitions(spark, ptbl):
    before = _live(spark, ptbl)
    v = dl.delta_write(
        spark, _pdf(spark, [(100, 1), (101, 1), (102, 2)]), ptbl,
        mode="overwrite_partitions",
    )
    assert v == 1
    assert _rows(spark, ptbl) == [(0, 0), (3, 0), (6, 0),
                                  (100, 1), (101, 1), (102, 2)]
    actions = dl._load_commit_actions(ptbl, 1)
    for kind in ("add", "remove"):
        assert {
            a[kind]["partitionValues"]["p"] for a in actions if kind in a
        } == {"1", "2"}
    # Partition 0's add entries and file bytes are exactly as before.
    after = _live(spark, ptbl)
    kept = {
        p: e for p, e in before.items()
        if e[0]["partitionValues"]["p"] == "0"
    }
    assert kept and {p: e for p, e in after.items() if p in kept} == kept
    assert dl._load_commit_actions(ptbl, 1)[0]["commitInfo"][
        "operationParameters"
    ] == {"mode": "OVERWRITE_PARTITIONS"}
    # Time travel to the prior version returns the old rows.
    assert _rows(spark, ptbl, version=0) == [(k, k % 3) for k in range(9)]


def test_overwrite_partitions_rejects_mismatch_before_staging(
    spark, ptbl, tmp_path
):
    """An unpartitioned table, a new schema or a different partition_by
    raises and commits (and stages) nothing."""
    flat = str(tmp_path / "flat")
    dl.delta_write(spark, _pdf(spark, [(1, 1)]), flat)
    bad = [
        (flat, _pdf(spark, [(2, 1)]), None),
        (flat, _pdf(spark, [(2, 1)]), ["p"]),
        (ptbl, _pdf(spark, [(2, 1)]).withColumn("x", F.lit(1)), None),
        (ptbl, _pdf(spark, [(2, 1)]).withColumnRenamed("k", "k2"), None),
        (ptbl, _pdf(spark, [(2, 1)]), ["k"]),
    ]
    for tbl, df, part in bad:
        listing = sorted(os.listdir(tbl))
        with pytest.raises(dl.DeltaProtocolError, match="overwrite_partitions"):
            dl.delta_write(
                spark, df, tbl, mode="overwrite_partitions", partition_by=part
            )
        assert dl.latest_version(tbl) == 0
        assert sorted(os.listdir(tbl)) == listing
    # A table that does not exist yet is not created.
    new = str(tmp_path / "new")
    with pytest.raises(dl.DeltaProtocolError, match="existing table"):
        dl.delta_write(
            spark, _pdf(spark, [(1, 1)]), new, mode="overwrite_partitions",
            partition_by=["p"],
        )
    assert not os.path.exists(new)


def test_overwrite_partitions_txn_retry_is_skipped(spark, ptbl):
    write = lambda rows: dl.delta_write(  # noqa: E731
        spark, _pdf(spark, rows), ptbl, mode="overwrite_partitions",
        txn=("app", 7),
    )
    assert write([(50, 0)]) == 1
    rows = _rows(spark, ptbl)
    # A retry of the committed txn returns the prior version, even with
    # other content, and adds no commit.
    assert write([(60, 1)]) == 1
    assert dl.latest_version(ptbl) == 1
    assert _rows(spark, ptbl) == rows


def test_overwrite_partitions_empty_frame_keeps_live_set(spark, ptbl):
    before = _live(spark, ptbl)
    dl.delta_write(
        spark, _pdf(spark, []), ptbl, mode="overwrite_partitions",
    )
    assert _live(spark, ptbl) == before
    assert _rows(spark, ptbl) == [(k, k % 3) for k in range(9)]
