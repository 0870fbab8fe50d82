"""Deletion vectors (protocol reader-3 feature, sources/deltalog.py):
merge-on-read DELETE via row-index bitmaps — protocol feature gating,
DV-vs-copy-on-write equivalence, union on repeated deletes, checkpoint
and restore round-trips, row-granular change feed, interactions with
MERGE/OPTIMIZE/VACUUM and the stats-skipping reader."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from opencode_hive_archon_spark.sources import deltalog as dl
from opencode_hive_archon_spark.sources import deltastats as ds


def _mk(spark, tmp_path, n=10, parts=1, name="t"):
    tbl = str(tmp_path / name)
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k * 10)) for k in range(n)], "k long, v double"
        ).repartition(parts),
        tbl,
    )
    return tbl


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_dv_delete_matches_copy_on_write(spark, tmp_path):
    """The DV path and the copy-on-write path must produce identical
    snapshots; the DV path must NOT rewrite the data file."""
    a = _mk(spark, tmp_path, name="a")
    b = _mk(spark, tmp_path, name="b")
    before_a = {f["path"] for f in dl._snapshot_state(spark, a)["files"]}
    dl.delta_delete(spark, a, "k >= 7", use_dv=True)
    dl.delta_delete(spark, b, "k >= 7")
    assert _ks(dl.delta_snapshot(spark, a)) == _ks(dl.delta_snapshot(spark, b))
    state_a = dl._snapshot_state(spark, a)
    assert {f["path"] for f in state_a["files"]} == before_a  # no rewrite
    dv = state_a["files"][0]["deletionVector"]
    assert dv["cardinality"] == 3
    # r17: spec storage — a 'u' descriptor naming a version-1 DV file.
    assert dv["storageType"] == "u"
    assert dv["offset"] == 1  # first entry, right after the version byte
    assert os.path.getsize(dl._dv_path(a, dv)) == 1 + 4 + dv["sizeInBytes"] + 4
    assert json.loads(state_a["files"][0]["stats"])["tightBounds"] is False
    # count comes from stats minus cardinality — no data read.
    assert dl.delta_count(spark, a) == 7


def test_dv_protocol_upgrade_and_feature_gate(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    assert dl._snapshot_state(spark, tbl)["protocol"]["minReaderVersion"] <= 2
    dl.delta_delete(spark, tbl, "k = 3", use_dv=True)
    proto = dl._snapshot_state(spark, tbl)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    # An unknown reader feature fails loudly.
    dl._commit(tbl, 2, [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors", "v2Checkpoint"],
        "writerFeatures": ["deletionVectors"],
    }}])
    with pytest.raises(dl.DeltaProtocolError, match="readerFeatures"):
        dl.delta_snapshot(spark, tbl).collect()


def test_dv_second_delete_unions_indexes(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 2", use_dv=True)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 3, 4, 5, 6]
    state = dl._snapshot_state(spark, tbl)
    assert len(state["files"]) == 1
    assert state["files"][0]["deletionVector"]["cardinality"] == 4
    assert dl.delta_count(spark, tbl) == 6


def test_dv_foreign_storage_type_fails_loudly(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k = 1", use_dv=True)
    state = dl._snapshot_state(spark, tbl)
    f = dict(state["files"][0])
    f["deletionVector"] = dict(
        f["deletionVector"], storageType="x", pathOrInlineDv="ab%cd"
    )
    with pytest.raises(dl.DeltaProtocolError, match="storageType"):
        dl._read_state(spark, tbl, dict(state, files=[f])).collect()
    # A 'u' descriptor whose pathOrInlineDv can't carry a z85 UUID is
    # malformed, not silently unreadable.
    f["deletionVector"] = dict(
        f["deletionVector"], storageType="u", pathOrInlineDv="ab%cd"
    )
    with pytest.raises(dl.DeltaProtocolError, match="malformed"):
        dl._read_state(spark, tbl, dict(state, files=[f])).collect()


def test_dv_time_travel_and_restore(spark, tmp_path):
    """Pre-DV versions stay readable; RESTORE across a DV change
    resurrects the deleted rows (identity is path + DV id), and the
    restore's change feed emits them as row-granular inserts."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    assert _ks(dl.delta_snapshot(spark, tbl, version=0)) == list(range(10))
    assert _ks(dl.delta_snapshot(spark, tbl, version=1)) == list(range(7))
    dl.delta_restore(spark, tbl, 0)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(10))
    feed = dl.delta_changes(spark, tbl, 1, 2).collect()
    assert sorted((r["_change_type"], r["k"]) for r in feed) == [
        ("insert", 7), ("insert", 8), ("insert", 9)
    ]


def test_dv_checkpoint_roundtrip(spark, tmp_path):
    """The DV descriptor must survive checkpoint + JSON truncation —
    dropping it would resurrect deleted rows."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 6", use_dv=True)
    dl.delta_write(
        spark,
        spark.createDataFrame([(100, 1.0)], "k long, v double"),
        tbl, mode="append",
    )
    dl.delta_checkpoint(spark, tbl, 2)
    for v in range(2):
        os.remove(dl._version_file(tbl, v))
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4, 5, 100]
    assert dl.delta_count(spark, tbl) == 7


def test_dv_change_feed_row_granular(spark, tmp_path):
    """A DV delete's feed is exactly the newly-dead rows as 'delete' —
    no physical-rewrite insert/delete noise, already-dead rows never
    re-emitted."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 2", use_dv=True)
    feed = dl.delta_changes(spark, tbl, 0, 2).collect()
    got = sorted((r["_commit_version"], r["_change_type"], r["k"]) for r in feed)
    assert got == [(1, "delete", 7), (1, "delete", 8), (1, "delete", 9),
                   (2, "delete", 2)]


def test_dv_copy_on_write_delete_over_dv_file_purges(spark, tmp_path):
    """A later copy-on-write DELETE on a DV'd file rewrites it without
    the DV; the feed's delete side emits only LIVE rows (the DV'd rows
    must not re-surface as deletes)."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 0")  # copy-on-write path
    state = dl._snapshot_state(spark, tbl)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [1, 2, 3, 4, 5, 6]
    assert all(not f.get("deletionVector") for f in state["files"])
    feed = dl.delta_changes(spark, tbl, 1, 2).collect()
    deletes = sorted(r["k"] for r in feed if r["_change_type"] == "delete")
    inserts = sorted(r["k"] for r in feed if r["_change_type"] == "insert")
    assert deletes == [0, 1, 2, 3, 4, 5, 6]  # live rows only, no 7/8/9
    assert inserts == [1, 2, 3, 4, 5, 6]


def test_dv_merge_rewrites_and_purges(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    src = spark.createDataFrame([(1, 999.0), (50, 500.0)], "k long, v double")
    dl.delta_merge(spark, tbl, src, on=["k"])
    snap = dl.delta_snapshot(spark, tbl)
    assert _ks(snap) == [0, 1, 2, 3, 4, 5, 6, 50]
    assert snap.filter("k = 1").collect()[0]["v"] == 999.0
    assert snap.filter("k = 7").count() == 0  # DV respected by rewrite
    state = dl._snapshot_state(spark, tbl)
    assert all(not f.get("deletionVector") for f in state["files"])


def test_dv_optimize_purges_dead_rows(spark, tmp_path):
    tbl = _mk(spark, tmp_path, n=20, parts=3)
    dl.delta_delete(spark, tbl, "k % 2 = 1", use_dv=True)
    v = dl.delta_optimize(spark, tbl)
    assert v is not None
    state = dl._snapshot_state(spark, tbl)
    assert all(not f.get("deletionVector") for f in state["files"])
    assert _ks(dl.delta_snapshot(spark, tbl)) == [k for k in range(20) if k % 2 == 0]
    # OPTIMIZE stays invisible to the change feed (dataChange: false).
    assert dl.delta_changes(spark, tbl, 1, v).count() == 0


def test_dv_vacuum_keeps_live_file_and_dv(spark, tmp_path):
    """The data file is tombstoned by every DV supersede, but a live
    incarnation references it — VACUUM must never delete it, nor the
    live DV file."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 2", use_dv=True)
    dl.delta_vacuum(spark, tbl, retain_ms=0)
    state = dl._snapshot_state(spark, tbl)
    f = state["files"][0]
    assert os.path.exists(os.path.join(tbl, dl._rel_path(tbl, f["path"])))
    assert os.path.exists(dl._dv_path(tbl, f["deletionVector"]))
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 3, 4, 5, 6]


def test_dv_scan_skipping_stays_sound(spark, tmp_path):
    """Stats of a DV'd file are physical supersets (tightBounds false):
    every supported predicate over delta_scan must equal the plain
    filter, and the DV'd rows must never reappear."""
    tbl = str(tmp_path / "t")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        dl.delta_write(
            spark,
            spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            ).repartition(1),
            tbl, mode="append",
        )
    dl.delta_delete(spark, tbl, "k >= 12 AND k < 15", use_dv=True)
    snap = dl.delta_snapshot(spark, tbl)
    for op in ("<", "<=", ">", ">=", "=", "!="):
        for lit in (0, 11, 12, 14, 15, 29):
            pred = f"k {op} {lit}"
            want = sorted(r["k"] for r in snap.filter(pred).collect())
            got = sorted(
                r["k"] for r in ds.delta_scan(spark, tbl, pred).collect()
            )
            assert got == want, pred
    # Out-of-band files still prune.
    total, scanned = ds.delta_scan_accounting(spark, tbl, "k < 5")
    assert (total, scanned) == (3, 1)


def test_dv_partitioned_table(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("bucket")
    )
    dl.delta_write(spark, df, tbl, partition_by=["bucket"])
    dl.delta_delete(spark, tbl, "k >= 24", use_dv=True)
    got = _ks(dl.delta_snapshot(spark, tbl))
    assert got == list(range(24))
    # Partition pruning still composes with the DV read.
    got = sorted(
        r["k"]
        for r in ds.delta_scan(spark, tbl, "bucket = 1").collect()
    )
    assert got == [k for k in range(24) if k % 3 == 1]


def test_dv_commits_flow_through_cdf_stream(spark, tmp_path):
    """r17: the CDF stream serves a DV incarnation's LIVE rows (the
    pre-r17 refusal removed) — two DV deletes net out to exactly the
    newly-dead rows under signed accumulation, and the final signed
    state equals the snapshot."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 2", use_dv=True)  # supersedes DV 1
    spark.dataSource.register(dl.DeltaCdfStreamSource)
    q = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", tbl)
        .load()
        .writeStream.format("memory")
        .queryName("dv_cdf_sink")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    feed = spark.table("dv_cdf_sink").collect()
    # Net signed rows per key = final liveness; deleted keys net to 0.
    net: dict[int, int] = {}
    for r in feed:
        net[r["k"]] = net.get(r["k"], 0) + (
            1 if r["_change_type"] == "insert" else -1
        )
    assert {k for k, n in net.items() if n == 1} == {0, 1, 3, 4, 5, 6}
    assert all(n in (0, 1) for n in net.values())
    # The v2 supersede nets to exactly the one newly-dead row (k=2):
    # live(DV1) inserts minus live(DV2) deletes.
    v2 = [r for r in feed if r["_commit_version"] == 2]
    net2: dict[int, int] = {}
    for r in v2:
        net2[r["k"]] = net2.get(r["k"], 0) + (
            1 if r["_change_type"] == "insert" else -1
        )
    assert {k for k, n in net2.items() if n != 0} == {2}
    assert net2[2] == -1


def test_dv_vacuum_sweeps_superseded_dv_files(spark, tmp_path):
    """A superseded DV payload (older incarnation's bitmap) is reclaimed
    once past retention + the orphan safety floor; the LIVE DV survives
    any retention setting."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 8", use_dv=True)
    dl.delta_delete(spark, tbl, "k = 1", use_dv=True)  # supersedes DV 1
    dvs = [n for n in os.listdir(tbl) if n.startswith("deletion_vector_")]
    assert len(dvs) == 2
    live_dv = os.path.basename(
        dl._dv_path(
            tbl,
            dl._snapshot_state(spark, tbl)["files"][0]["deletionVector"],
        )
    )
    # Age everything past the orphan floor, then vacuum with zero
    # retention: the superseded DV goes, the live one stays.
    for n in dvs:
        os.utime(os.path.join(tbl, n), (0, 0))
    deleted = dl.delta_vacuum(spark, tbl, retain_ms=0)
    remaining = {
        n for n in os.listdir(tbl) if n.startswith("deletion_vector_")
    }
    assert remaining == {live_dv}
    assert any(d.startswith("deletion_vector_") for d in deleted)
    assert sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect()) \
        == [0, 2, 3, 4, 5, 6, 7]


def test_dv_table_path_with_special_chars(spark, tmp_path):
    """_metadata.file_path percent-encodes (space -> %20, verified); a
    mismatched DV anti-join would silently resurrect deleted rows, so a
    table path with encodable characters must still apply its DVs."""
    tbl = str(tmp_path / "dv table+dir" / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, v double"
        ).repartition(1),
        tbl,
    )
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    assert _ks(dl.delta_snapshot(spark, tbl)) == list(range(7))
    assert dl.delta_count(spark, tbl) == 7
    dl.delta_delete(spark, tbl, "k = 2", use_dv=True)  # discovery probe leg
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 3, 4, 5, 6]
    feed = dl.delta_changes(spark, tbl, 0, 2).collect()
    assert sorted(r["k"] for r in feed if r["_change_type"] == "delete") \
        == [2, 7, 8, 9]


def test_dv_scan_plan_shape(spark, tmp_path):
    """The DV read plans as a BROADCAST anti-join on (file, row_index) —
    never a shuffled join — and the predicate still reaches the parquet
    scan as a PushedFilter on the surviving files."""
    tbl = _mk(spark, tmp_path, n=100, parts=1)
    dl.delta_delete(spark, tbl, "k >= 90", use_dv=True)
    df = ds.delta_scan(spark, tbl, "k >= 10")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(k,10" in plan
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(10, 90))


def test_dv_delete_on_shallow_clone_external_file(spark, tmp_path):
    """use_dv=True on a CLONE: the external data file stays untouched,
    the bitmap lands under the CLONE's root, and the source is
    unaffected."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, v double"
        ).repartition(1),
        src,
    )
    dl.delta_clone(spark, src, tgt)
    dl.delta_delete(spark, tgt, "k >= 7", use_dv=True)
    assert _ks(dl.delta_snapshot(spark, tgt)) == list(range(7))
    assert _ks(dl.delta_snapshot(spark, src)) == list(range(10))
    state = dl._snapshot_state(spark, tgt)
    f = state["files"][0]
    assert f["deletionVector"]["cardinality"] == 3
    # The bitmap lives under the clone, the data under the source.
    dv_file = dl._dv_path(tgt, f["deletionVector"])
    assert os.path.exists(dv_file)
    assert os.path.abspath(dv_file).startswith(os.path.abspath(tgt))
    assert dl._abs_path(tgt, f["path"]).startswith(os.path.abspath(src))
    assert dl.delta_count(spark, tgt) == 7


def test_dv_wide_delete_built_on_executors(spark, tmp_path, monkeypatch):
    """r17 (VERDICT r16 #3): a wide low-selectivity DV delete — >10^6
    dead rows — builds its bitmaps per-file on EXECUTORS; the driver
    handles descriptors only. Pinned by forbidding driver-side
    _dv_write during the delete (executor calls run in worker
    processes, invisible to the patch) and by the result itself."""
    tbl = str(tmp_path / "t")
    n = 1_200_000
    dl.delta_write(
        spark,
        spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        ).repartition(4),
        tbl,
    )

    def _driver_dv_write_forbidden(table, indexes):
        raise AssertionError("DV bitmap built driver-side")

    monkeypatch.setattr(dl, "_dv_write", _driver_dv_write_forbidden)
    v = dl.delta_delete(spark, tbl, "k >= 100000", use_dv=True)
    monkeypatch.undo()
    assert v == 1
    state = dl._snapshot_state(spark, tbl)
    assert sum(
        f["deletionVector"]["cardinality"]
        for f in state["files"]
        if f.get("deletionVector")
    ) == n - 100000
    assert dl.delta_count(spark, tbl) == 100000
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.count() == 100000
    assert snap.agg(F.max("k")).collect()[0][0] == 99999
    # Descriptors are spec 'u' files with verifiable checksums.
    for f in state["files"]:
        d = f.get("deletionVector")
        if d:
            assert d["storageType"] == "u"
            from opencode_hive_archon_spark.sources import dvformat
            data = dvformat.read_dv_entry(
                dl._dv_path(tbl, d), d["offset"], d["sizeInBytes"]
            )
            assert len(
                dvformat.deserialize_roaring_bitmap_array(data)
            ) == d["cardinality"]


def test_dv_aware_optimize_rewrites_mostly_dead_file(spark, tmp_path):
    """r17 (VERDICT r16 #8): OPTIMIZE selects on LIVE bytes — a big file
    that is 90% dead under its DV is rewritten (DV purged, dataChange:
    false), and the snapshot content is byte-identical before/after."""
    tbl = str(tmp_path / "t")
    n = 50_000
    dl.delta_write(
        spark,
        spark.range(0, n).select(
            F.col("id").alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("s"),
        ).repartition(1),
        tbl,
    )
    f0 = dl._snapshot_state(spark, tbl)["files"][0]
    dl.delta_delete(spark, tbl, "k >= 5000", use_dv=True)  # 90% dead
    before = sorted(
        (r["k"], r["s"]) for r in dl.delta_snapshot(spark, tbl).collect()
    )
    # target_bytes far below the file's PHYSICAL size: the pre-r17
    # selector (physical size >= target -> skip) would never pick it;
    # live-bytes selection + the purge ratio must.
    assert f0["size"] > 64 * 1024
    v = dl.delta_optimize(spark, tbl, target_bytes=64 * 1024)
    assert v is not None
    state = dl._snapshot_state(spark, tbl)
    assert all(not f.get("deletionVector") for f in state["files"])
    assert {f["path"] for f in state["files"]}.isdisjoint({f0["path"]})
    after = sorted(
        (r["k"], r["s"]) for r in dl.delta_snapshot(spark, tbl).collect()
    )
    assert after == before
    # Invisible to the change feed (dataChange: false end to end).
    assert dl.delta_changes(spark, tbl, v - 1, v).count() == 0
    # And the physical bytes actually shrank (dead rows dropped).
    new_bytes = sum(f["size"] for f in state["files"])
    assert new_bytes < f0["size"] / 2


def test_dv_on_column_mapped_table(spark, tmp_path):
    """r17: deletion vectors compose with column mapping (the pre-r17
    refusal removed) — the row-index scan reads physical names and
    projects back to logical, so a DV DELETE on a renamed column's
    table serves the right rows under the right names."""
    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k * 10)) for k in range(10)], "k long, v double"
        ).repartition(1),
        tbl,
    )
    dl.delta_enable_column_mapping(spark, tbl)
    dl.delta_rename_column(spark, tbl, "v", "price")
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    snap = dl.delta_snapshot(spark, tbl)
    assert set(snap.columns) == {"k", "price"}
    got = {r["k"]: r["price"] for r in snap.collect()}
    assert got == {k: float(k * 10) for k in range(7)}
    assert dl.delta_count(spark, tbl) == 7
    # A second DV delete unions; predicate names the LOGICAL column.
    dl.delta_delete(spark, tbl, "price = 20.0", use_dv=True)
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 3, 4, 5, 6]
    # Time travel to the pre-delete version still serves every row.
    assert dl.delta_snapshot(spark, tbl, version=2).count() == 10


def test_dv_inline_descriptor_read_path(spark, tmp_path):
    """A spec 'i' (inline) descriptor — bitmap bytes z85-padded into the
    action itself — serves through the same read path as on-disk DVs
    (foreign writers may inline small DVs; ours writes 'u')."""
    from opencode_hive_archon_spark.sources import dvformat

    tbl = _mk(spark, tmp_path)
    state = dl._snapshot_state(spark, tbl)
    data = dvformat.serialize_roaring_bitmap_array({0, 3, 9})
    f = dict(
        state["files"][0],
        deletionVector={
            "storageType": "i",
            "pathOrInlineDv": dvformat.inline_encode(data),
            "sizeInBytes": len(data),
            "cardinality": 3,
        },
    )
    got = sorted(
        r["k"]
        for r in dl._read_state(spark, tbl, dict(state, files=[f])).collect()
    )
    assert got == [1, 2, 4, 5, 6, 7, 8]
    assert dl._dv_read(tbl, f["deletionVector"]) == {0, 3, 9}


def test_dv_wide_read_expands_bitmaps_on_executors(spark, tmp_path, monkeypatch):
    """r17: past DV_BROADCAST_MAX_ROWS (forced to 0 here) the anti-join
    input is expanded from descriptors ON EXECUTORS (mapInPandas) and
    shuffle-joined — same rows as the broadcast path, no driver-side
    bitmap materialization (_dv_read is forbidden on the driver)."""
    tbl = _mk(spark, tmp_path, n=50, parts=2)
    dl.delta_delete(spark, tbl, "k % 3 = 0", use_dv=True)
    want = _ks(dl.delta_snapshot(spark, tbl))  # broadcast path
    assert want == [k for k in range(50) if k % 3 != 0]
    monkeypatch.setattr(dl, "DV_BROADCAST_MAX_ROWS", 0)

    def _driver_dv_read_forbidden(table, descriptor):
        raise AssertionError("DV bitmap expanded driver-side")

    monkeypatch.setattr(dl, "_dv_read", _driver_dv_read_forbidden)
    df = dl.delta_snapshot(spark, tbl)
    got = _ks(df)
    assert got == want
    # And the distributed path expands bitmaps in a MapInPandas stage,
    # not a broadcast of driver rows.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    monkeypatch.undo()


def test_dv_delete_matching_only_dead_rows_leaves_file_alone(spark, tmp_path):
    """r18 fused discovery+build pin: a DV delete whose only matching rows
    are ALREADY dead must not supersede the file — the commit carries no
    add/remove actions (version still advances with its commitInfo), the
    (file, DV) incarnation is unchanged, and the snapshot is unchanged."""
    tbl = _mk(spark, tmp_path)
    dl.delta_delete(spark, tbl, "k >= 7", use_dv=True)
    state1 = dl._snapshot_state(spark, tbl)
    v2 = dl.delta_delete(spark, tbl, "k = 8", use_dv=True)  # 8 already dead
    state2 = dl._snapshot_state(spark, tbl)
    assert state2["version"] == v2
    assert [
        (f["path"], f.get("deletionVector")) for f in state2["files"]
    ] == [(f["path"], f.get("deletionVector")) for f in state1["files"]]
    with open(dl._version_file(tbl, v2)) as fh:
        kinds = {
            next(iter(json.loads(line)))
            for line in fh
            if line.strip()
        }
    assert kinds == {"commitInfo"}
    assert _ks(dl.delta_snapshot(spark, tbl)) == [0, 1, 2, 3, 4, 5, 6]


def test_dv_change_feed_on_partitioned_shallow_clone(spark, tmp_path):
    """A DV delete on a PARTITIONED shallow clone: the hit files live
    under the SOURCE root, so the feed must read them through the
    snapshot reader's per-root basePath grouping — exactly the newly
    dead rows come back, tagged 'delete'."""
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    dl.delta_write(spark, df, src, partition_by=["p"])
    dl.delta_clone(spark, src, tgt)
    v = dl.delta_delete(spark, tgt, "k % 7 = 0", use_dv=True)
    feed = dl.delta_changes(spark, tgt, v - 1, v).collect()
    got = sorted((r["_change_type"], r["k"], r["p"]) for r in feed)
    assert got == [("delete", k, k % 3) for k in range(0, 60, 7)]
    assert _ks(dl.delta_snapshot(spark, tgt)) == [
        k for k in range(60) if k % 7
    ]


def test_dv_change_feed_scans_do_not_grow_with_hit_files(spark, tmp_path):
    """A DV delete's feed reads its superseded files in one scan per
    data root, semi-joined to the broadcast (file, row index) pairs —
    a delete that hit 3 files plans no more parquet scans than one
    that hit 1."""

    def scans(name: str, predicate: str, hit: int) -> int:
        tbl = str(tmp_path / name)
        for lo in (0, 10, 20):  # one file per commit
            dl.delta_write(spark, spark.createDataFrame(
                [(k, float(k)) for k in range(lo, lo + 10)], "k long, v double"
            ).repartition(1), tbl)
        v = dl.delta_delete(spark, tbl, predicate, use_dv=True)
        feed = dl.delta_changes(spark, tbl, v - 1, v)
        assert sorted(r["k"] for r in feed.collect()) == [
            k for k in range(30) if k % 10 == 1 and (hit == 3 or k < 10)
        ]
        plan = feed._jdf.queryExecution().optimizedPlan().toString()
        return sum("parquet" in line and "Relation" in line
                   for line in plan.splitlines())

    one = scans("one", "k = 1", 1)
    three = scans("three", "k % 10 = 1", 3)
    assert one >= 1
    assert three <= one
