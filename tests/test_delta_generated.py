"""Generated columns (PROTOCOL.md writer-4 feature, r18): declaration,
write-time compute/validate, UPDATE cascade, rename/drop guards, and
partition pruning THROUGH the generation expression."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from opencode_hive_archon_spark.sources import deltalog as dl
from opencode_hive_archon_spark.sources import deltastats as ds


def _mk(spark, tmp_path, n=40):
    """Create a day-partitioned table with day = CAST(ts AS DATE): n
    rows spread over 4 days, one file per day."""
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (k, f"2024-03-{1 + k % 4:02d} 06:0{k % 6}:00", float(k))
            for k in range(n)
        ],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    dl.delta_write(
        spark,
        df.repartition(F.to_date("ts")),
        tbl,
        generated={"day": "CAST(ts AS DATE)"},
        partition_by=["day"],
    )
    return tbl


def test_create_computes_and_declares(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    state = dl._snapshot_state(spark, tbl)
    assert dl._generated_columns(state["meta"]) == {
        "day": "CAST(ts AS DATE)"
    }
    assert state["protocol"]["minWriterVersion"] == 4
    snap = dl.delta_snapshot(spark, tbl)
    assert snap.filter(F.col("day") != F.to_date("ts")).count() == 0
    assert len(state["files"]) == 4  # one per day


@pytest.mark.parametrize(
    "append",
    [
        lambda spark, df, tbl: dl.delta_write(spark, df, tbl),
        lambda spark, df, tbl: dl.delta_append(spark, df, tbl),
    ],
    ids=["delta_write", "delta_append"],
)
def test_append_computes_omitted_generated_column(spark, tmp_path, append):
    """Both append entry points complete a generated column the batch
    leaves out."""
    tbl = _mk(spark, tmp_path)
    extra = spark.createDataFrame(
        [(100, "2024-03-09 01:00:00", 1.0)], "k long, ts_s string, v double"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    append(spark, extra, tbl)
    row = dl.delta_snapshot(spark, tbl).filter("k = 100").first()
    assert str(row["day"]) == "2024-03-09"


def test_wrong_provided_value_fails_fused_check(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    bad = spark.createDataFrame(
        [(101, "2024-03-09 01:00:00", 1.0)], "k long, ts_s string, v double"
    ).select(
        "k", F.col("ts_s").cast("timestamp").alias("ts"), "v",
        F.lit("1999-01-01").cast("date").alias("day"),
    )
    with pytest.raises(dl.DeltaProtocolError, match="generated:day"):
        dl.delta_write(spark, bad, tbl)
    # A CORRECT provided value is accepted.
    ok = bad.withColumn("day", F.to_date("ts"))
    dl.delta_write(spark, ok, tbl)


def test_generated_declared_only_at_create(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    df = dl.delta_snapshot(spark, tbl).limit(1)
    with pytest.raises(dl.DeltaProtocolError, match="table creation"):
        dl.delta_write(spark, df, tbl, generated={"d2": "CAST(ts AS DATE)"})


def test_update_cascades_and_refuses_direct_set(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    with pytest.raises(dl.DeltaProtocolError, match="generated column"):
        dl.delta_update(spark, tbl, "k = 0", {"day": "DATE'1999-01-01'"})
    dl.delta_update(
        spark, tbl, "k = 0", {"ts": "TIMESTAMP'2024-04-15 12:00:00'"}
    )
    row = dl.delta_snapshot(spark, tbl).filter("k = 0").first()
    assert str(row["day"]) == "2024-04-15"


def test_source_column_rename_and_drop_refused(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    dl.delta_enable_column_mapping(spark, tbl)
    with pytest.raises(dl.DeltaProtocolError, match="generation"):
        dl.delta_rename_column(spark, tbl, "ts", "event_ts")
    with pytest.raises(dl.DeltaProtocolError, match="generation"):
        dl.delta_drop_column(spark, tbl, "ts")
    # The generated column ITSELF renames fine (metadata travels).
    dl.delta_rename_column(spark, tbl, "day", "event_day")
    meta = dl._snapshot_state(spark, tbl)["meta"]
    assert dl._generated_columns(meta) == {"event_day": "CAST(ts AS DATE)"}


def test_ts_predicate_prunes_through_generation_expression(
    spark, tmp_path
):
    """The timestamp column carries NO footer stats (the writer drops
    non-numeric logical values), so day-partition pruning via the
    derived atom is the only skipping mechanism — and it works."""
    tbl = _mk(spark, tmp_path)
    state = dl._snapshot_state(spark, tbl)
    # Confirm the premise: no ts bounds in any file's stats.
    for f in state["files"]:
        stats = json.loads(f["stats"])
        assert "ts" not in (stats.get("minValues") or {})
    total, scanned = ds.delta_scan_accounting(
        spark, tbl,
        "ts >= '2024-03-02 00:00:00' AND ts < '2024-03-04 00:00:00'",
    )
    assert (total, scanned) == (4, 2)  # days 02 and 03 only
    # Midnight-exclusive upper bound excludes its whole day.
    total, scanned = ds.delta_scan_accounting(
        spark, tbl, "ts < '2024-03-02 00:00:00'"
    )
    assert (total, scanned) == (4, 1)
    # Equality derives a single-day atom.
    total, scanned = ds.delta_scan_accounting(
        spark, tbl, "ts = '2024-03-03 06:01:00'"
    )
    assert (total, scanned) == (4, 1)
    # Rows survive exactly (pruning never changes results).
    got = ds.delta_scan(
        spark, tbl,
        "ts >= '2024-03-02 00:00:00' AND ts < '2024-03-04 00:00:00'",
    ).count()
    want = dl.delta_snapshot(spark, tbl).filter(
        "ts >= '2024-03-02 00:00:00' AND ts < '2024-03-04 00:00:00'"
    ).count()
    assert got == want > 0


def test_non_iso_literal_keeps_files(spark, tmp_path):
    """A loose date literal ('2024-3-2') casts fine in Spark but is not
    lexicographically comparable — pruning must keep every file rather
    than guess."""
    tbl = _mk(spark, tmp_path)
    total, scanned = ds.delta_scan_accounting(spark, tbl, "day = '2024-3-2'")
    assert (total, scanned) == (4, 4)
    total, scanned = ds.delta_scan_accounting(spark, tbl, "day = '2024-03-02'")
    assert (total, scanned) == (4, 1)


def test_merge_validates_generated_payload(spark, tmp_path):
    """MERGE requires the full table schema in its source; a source row
    whose generated value disagrees with the expression is refused by
    the fused invariant pass."""
    tbl = _mk(spark, tmp_path)
    good = dl.delta_snapshot(spark, tbl).filter("k < 2").withColumn(
        "v", F.col("v") + 1000.0
    )
    dl.delta_merge(spark, tbl, good, on=["k"])
    assert dl.delta_snapshot(spark, tbl).filter("v >= 1000.0").count() == 2
    bad = good.withColumn("day", F.lit("1999-01-01").cast("date"))
    with pytest.raises(dl.DeltaProtocolError, match="generated:day"):
        dl.delta_merge(spark, tbl, bad, on=["k"])
