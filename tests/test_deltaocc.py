"""Logical conflict detection for optimistic concurrency
(sources/deltalog.py `_conflicts_with` / `_commit_operation`):
the spec's conflict-matrix cheap cases — a blind append and a
DELETE/MERGE with provably disjoint read sets land in consecutive
commits WITHOUT re-running the read phase; overlapping work still
re-reads; metadata/protocol changes always re-read."""

from __future__ import annotations

import json
import time

import pytest

from opencode_hive_archon_spark.sources import deltalog as dl


def _add(path="f1.parquet", lo=0, hi=9, data_change=True, col="k"):
    return {"add": {
        "path": path,
        "dataChange": data_change,
        "stats": json.dumps({
            "numRecords": 10,
            "minValues": {col: lo},
            "maxValues": {col: hi},
            "nullCount": {col: 0},
            "tightBounds": True,
        }),
        "partitionValues": {},
    }}


_META = {"schemaString": json.dumps({
    "type": "struct",
    "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    ],
})}

_CI = {"commitInfo": {"timestamp": 0, "operation": "WRITE",
                      "operationParameters": {}}}


# ---------------------------------------------------------------------------
# _conflicts_with unit matrix (pure dicts, no Spark)
# ---------------------------------------------------------------------------

def _pred_profile(predicate, removed=()):
    return {"kind": "predicate", "predicate": predicate, "meta": _META,
            "removed_paths": set(removed)}


def test_matrix_append_never_conflicts_with_data_winners():
    me = {"kind": "append", "removed_paths": set()}
    assert not dl._conflicts_with(me, [_CI, _add()])
    assert not dl._conflicts_with(
        me, [_CI, _add(), {"remove": {"path": "old.parquet"}}]
    )


def test_matrix_metadata_protocol_txn_always_conflict():
    me = {"kind": "append", "removed_paths": set()}
    assert dl._conflicts_with(me, [{"metaData": {"id": "x"}}])
    assert dl._conflicts_with(me, [{"protocol": {"minReaderVersion": 3}}])
    assert dl._conflicts_with(me, [{"txn": {"appId": "a", "version": 1}}])


def test_matrix_double_remove_conflicts():
    me = _pred_profile("k = 3", removed=["f1.parquet"])
    assert dl._conflicts_with(me, [_CI, {"remove": {"path": "f1.parquet"}}])
    assert not dl._conflicts_with(
        me, [_CI, {"remove": {"path": "other.parquet"}}]
    )


def test_matrix_predicate_vs_winner_adds_uses_stats():
    me = _pred_profile("k = 3")
    # Winner appended k in [100, 200]: provably can't match k = 3.
    assert not dl._conflicts_with(me, [_CI, _add(lo=100, hi=200)])
    # Winner appended k in [0, 9]: could match — re-read.
    assert dl._conflicts_with(me, [_CI, _add(lo=0, hi=9)])
    # Stats-free add: unprovable — re-read.
    bare = {"add": {"path": "f2.parquet", "dataChange": True,
                    "partitionValues": {}}}
    assert dl._conflicts_with(me, [_CI, bare])
    # dataChange: false adds (OPTIMIZE placement) never conflict.
    assert not dl._conflicts_with(
        me, [_CI, _add(lo=0, hi=9, data_change=False)]
    )


def test_matrix_unparseable_predicate_conflicts():
    me = _pred_profile("k LIKE 'x%'")
    assert dl._conflicts_with(me, [_CI, _add(lo=100, hi=200)])


def test_matrix_merge_bounds():
    me = {"kind": "merge", "merge_bounds": {"k": (2, 7)},
          "removed_paths": set()}
    assert not dl._conflicts_with(me, [_CI, _add(lo=100, hi=200)])
    assert dl._conflicts_with(me, [_CI, _add(lo=5, hi=50)])
    no_bounds = {"kind": "merge", "merge_bounds": None,
                 "removed_paths": set()}
    assert dl._conflicts_with(no_bounds, [_CI, _add(lo=100, hi=200)])


# ---------------------------------------------------------------------------
# end-to-end races (a competing writer wins the version mid-commit)
# ---------------------------------------------------------------------------

def _mk(spark, tmp_path, name="t"):
    tbl = str(tmp_path / name)
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, val double"
        ).repartition(1),
        tbl,
    )
    return tbl


def _race_once(monkeypatch, spark, tbl, racer_df, delay_s=0.0):
    """Patch _commit so the FIRST commit attempt loses to a real append
    of `racer_df` (committed through the unpatched flow), started
    `delay_s` after that attempt reached the log."""
    orig = dl._commit
    state = {"injected": False}

    def racing(table, version, actions):
        if not state["injected"]:
            state["injected"] = True
            time.sleep(delay_s)
            dl.delta_write(spark, racer_df, tbl, mode="append")
        return orig(table, version, actions)

    monkeypatch.setattr(dl, "_commit", racing)
    return state


def _count_calls(monkeypatch, name):
    orig = getattr(dl, name)
    calls = {"n": 0}

    def wrapper(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(dl, name, wrapper)
    return calls


def test_delete_vs_disjoint_append_single_attempt(spark, tmp_path, monkeypatch):
    """A blind append of rows the DELETE predicate provably can't match
    (stats-disjoint) wins the race: the DELETE lands at the NEXT version
    without re-running its read phase — both commits stand."""
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(k, 0.0) for k in range(100, 105)], "k long, val double"
    ).repartition(1)
    calls = _count_calls(monkeypatch, "_find_hit_files")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_delete(spark, tbl, "k = 3")
    assert v == 2  # append took v1, delete advanced to v2 — no re-read
    assert calls["n"] == 1
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100, 101, 102, 103, 104]


def test_delete_vs_overlapping_append_rereads(spark, tmp_path, monkeypatch):
    """A winning append whose rows COULD match the predicate forces the
    full re-read — and the retried DELETE removes the racer's matching
    rows too (serializable: winner first, then the delete)."""
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(3, 333.0), (50, 50.0)], "k long, val double"
    ).repartition(1)
    calls = _count_calls(monkeypatch, "_find_hit_files")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_delete(spark, tbl, "k = 3")
    assert v == 2
    assert calls["n"] == 2  # read phase ran twice
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9, 50]  # BOTH k=3 rows gone


def test_advanced_commit_is_stamped_after_its_winner(
    spark, tmp_path, monkeypatch
):
    """A DELETE that advances past a disjoint append is stamped when it
    publishes, not when it started reading: its commitInfo timestamp is
    not older than the winner's, so TIMESTAMP AS OF just before the
    winner resolves to a version without the winner's rows."""
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(k, 0.0) for k in range(100, 105)], "k long, val double"
    ).repartition(1)
    _race_once(monkeypatch, spark, tbl, racer, delay_s=0.005)
    assert dl.delta_delete(spark, tbl, "k = 3") == 2

    def stamp(v):
        (info,) = [
            a["commitInfo"] for a in dl._load_commit_actions(tbl, v)
            if "commitInfo" in a
        ]
        return info["timestamp"]

    winner_ts = stamp(1)
    assert stamp(2) >= winner_ts
    before = dl.version_at_timestamp(tbl, winner_ts - 1)
    got = sorted(
        r["k"] for r in dl.delta_snapshot(spark, tbl, version=before).collect()
    )
    assert not set(got) & set(range(100, 105))


def test_merge_vs_disjoint_append_single_attempt(spark, tmp_path, monkeypatch):
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(500, 5.0)], "k long, val double"
    ).repartition(1)
    src = spark.createDataFrame(
        [(2, 99.0), (20, 20.0)], "k long, val double"
    )
    calls = _count_calls(monkeypatch, "_delta_merge_attempt")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_merge(spark, tbl, src, on=["k"])
    assert v == 2
    assert calls["n"] == 1
    got = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    assert got[2] == 99.0 and got[20] == 20.0 and got[500] == 5.0


def test_merge_vs_overlapping_append_rereads(spark, tmp_path, monkeypatch):
    """The racer appends a key the MERGE source also carries: bounds
    overlap, so the merge re-reads and UPDATES the racer's row instead
    of inserting a duplicate."""
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(20, 0.5)], "k long, val double"
    ).repartition(1)
    src = spark.createDataFrame(
        [(2, 99.0), (20, 20.0)], "k long, val double"
    )
    calls = _count_calls(monkeypatch, "_delta_merge_attempt")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_merge(spark, tbl, src, on=["k"])
    assert v == 2
    assert calls["n"] == 2
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.filter("k = 20").count() == 1  # no duplicate insert
    got = {r["k"]: r["val"] for r in snap.collect()}
    assert got[20] == 20.0 and got[2] == 99.0


def test_append_vs_append_both_land(spark, tmp_path, monkeypatch):
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(200, 2.0)], "k long, val double"
    ).repartition(1)
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_write(
        spark,
        spark.createDataFrame([(300, 3.0)], "k long, val double"),
        tbl, mode="append",
    )
    assert v == 2
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == list(range(10)) + [200, 300]


def test_update_vs_disjoint_append_single_attempt(spark, tmp_path, monkeypatch):
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(700, 7.0)], "k long, val double"
    ).repartition(1)
    calls = _count_calls(monkeypatch, "_find_hit_files")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_update(spark, tbl, "k = 1", {"val": "val + 100"})
    assert v == 2
    assert calls["n"] == 1
    got = {r["k"]: r["val"] for r in dl.delta_snapshot(spark, tbl).collect()}
    assert got[1] == 101.0 and got[700] == 7.0


def test_dv_delete_vs_disjoint_append_single_attempt(
    spark, tmp_path, monkeypatch
):
    """The merge-on-read DELETE takes the same fast path (its actions —
    DV supersede + protocol upgrade — stay valid past a disjoint
    append). r18: the DV path's work pass is the FUSED discovery+build
    row-index scan (_scan_with_row_index), no longer _find_hit_files —
    count that pass instead; the invariant (one attempt, no OCC retry
    re-running it) is unchanged."""
    tbl = _mk(spark, tmp_path)
    racer = spark.createDataFrame(
        [(900, 9.0)], "k long, val double"
    ).repartition(1)
    calls = _count_calls(monkeypatch, "_scan_with_row_index")
    _race_once(monkeypatch, spark, tbl, racer)
    v = dl.delta_delete(spark, tbl, "k >= 7 AND k <= 9", use_dv=True)
    assert v == 2
    assert calls["n"] == 1
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 900]
    assert dl._snapshot_state(spark, tbl)["files"]  # DV'd file live


def test_threaded_writers_all_land(spark, tmp_path):
    """REAL concurrency: six threads blind-append disjoint bands while
    the main thread issues a stats-disjoint DELETE — every commit lands
    (appends via the conflict-matrix fast path, the delete either first
    try or after advancing past non-conflicting winners), versions are
    contiguous, and the final state is the serializable union."""
    from concurrent.futures import ThreadPoolExecutor

    tbl = str(tmp_path / "t")
    dl.delta_write(
        spark,
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, val double"
        ).repartition(1),
        tbl,
    )

    def append(i: int) -> int:
        df = spark.createDataFrame(
            [(100 + i * 10 + j, float(i)) for j in range(3)],
            "k long, val double",
        ).repartition(1)
        return dl.delta_write(spark, df, tbl, mode="append")

    with ThreadPoolExecutor(max_workers=6) as ex:
        futs = [ex.submit(append, i) for i in range(6)]
        v_del = dl.delta_delete(spark, tbl, "k = 3")
        versions = [f.result() for f in futs]
    assert sorted(versions + [v_del]) == list(range(1, 8))  # contiguous
    got = sorted(r["k"] for r in dl.delta_snapshot(spark, tbl).collect())
    want = sorted(
        [k for k in range(10) if k != 3]
        + [100 + i * 10 + j for i in range(6) for j in range(3)]
    )
    assert got == want
    assert dl.latest_version(tbl) == 7
