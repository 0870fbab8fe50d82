"""Focused pins for the r18 streaming-shape optimizations.

Two internals changed in the optimization round and both must stay
result-invariant:

* state-partition sizing (`_stream_shuffle_partitions`): Structured
  Streaming fixes each stateful operator's state-partition count at query
  start from ``spark.sql.shuffle.partitions`` and AQE never coalesces
  stateful exchanges, so the count is DERIVED from input rows (at least 1,
  cap = cluster parallelism, env override for production sizing). These
  tests pin the derivation arithmetic, the env override, and that the
  context manager restores the session conf even on error.

* single-pass slice writes (`_write_time_slices`): the 4 micro-batch
  slice files are produced by ONE partitioned write instead of four
  filter+coalesce jobs. The tests pin that slice membership (the only
  thing the streams depend on) is unchanged: each file holds exactly its
  slice's rows, the union is the input, and the replay file is
  byte-identical to its source slice.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from opencode_hive_archon_spark.streaming.jobs import (
    STREAM_JOIN_TARGET_ROWS,
    STREAM_STATE_TARGET_ROWS,
    _stream_partitions,
    _stream_shuffle_partitions,
    _write_time_slices,
    stream_tumbling_counts,
)


def test_stream_partitions_derive_from_rows(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    cap = max(int(spark.sparkContext.defaultParallelism), 1)
    # tiny input: one state partition, never the session constant
    assert _stream_shuffle_partitions(spark, 1) == 1
    assert _stream_shuffle_partitions(spark, STREAM_STATE_TARGET_ROWS) == 1
    # grows linearly with rows: one partition per TARGET rows (ceil)
    assert _stream_shuffle_partitions(
        spark, STREAM_STATE_TARGET_ROWS + 1
    ) == min(cap, 2)
    assert (
        _stream_shuffle_partitions(spark, 10 * STREAM_STATE_TARGET_ROWS)
        == min(cap, 10)
    )
    # capped at cluster parallelism, no matter the input size
    assert _stream_shuffle_partitions(spark, 10**12) == cap
    # the 4-store stream-stream join uses the ~4x finer target: at the
    # 100k-row single-batch point that is 16 partitions (measured knee),
    # still capped by cluster parallelism
    assert _stream_shuffle_partitions(
        spark, 100_000, STREAM_JOIN_TARGET_ROWS
    ) == min(cap, 16)
    assert STREAM_JOIN_TARGET_ROWS < STREAM_STATE_TARGET_ROWS
    # below 4 cores the parallelism cap still wins for every input size
    for cores in (1, 2, 3):
        monkeypatch.setattr(
            type(spark.sparkContext), "defaultParallelism",
            property(lambda self, n=cores: n),
        )
        assert _stream_shuffle_partitions(spark, 1) == 1
        assert _stream_shuffle_partitions(spark, 10**12) == cores
        assert _stream_shuffle_partitions(
            spark, 100_000, STREAM_JOIN_TARGET_ROWS
        ) == cores


def test_stream_tumbling_counts_state_partitions(spark, sf_dir, monkeypatch):
    """At sf0.001 (1,000 events, under one target's worth),
    stream_tumbling_counts starts its aggregation with ONE state partition;
    the old floor made it 4. (Its job count in the caller's group is pinned
    by test_streaming_state::test_memory_sink_result_is_not_copied.)"""
    queries = []
    start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    assert stream_tumbling_counts(spark, sf_dir).count() > 0
    (q,) = queries
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops and {op.numShufflePartitions for op in ops} == {1}


def test_stream_partitions_env_override_wins(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "7")
    assert _stream_shuffle_partitions(spark, 10**12) == 7
    assert _stream_shuffle_partitions(spark, 1) == 7


def test_stream_partitions_ctx_restores_conf(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with _stream_partitions(spark, 1):
        inner = spark.conf.get("spark.sql.shuffle.partitions")
        assert inner == str(_stream_shuffle_partitions(spark, 1))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with _stream_partitions(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


@pytest.mark.parametrize("empty_slice", [None, 3], ids=["full", "empty_slice"])
def test_write_time_slices_membership_unchanged(spark, sf_dir, empty_slice):
    """The one-pass partitioned write must produce per-file contents with
    the same slice membership as the old per-filter writes, plus a replay
    file byte-identical to its source slice. A slice with no rows
    (``empty_slice``) still gets its file, schema-only, in mtime order."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    from pyspark.sql import Window

    sliced = docs.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("doc_id"))
    )
    if empty_slice is not None:  # its rows move to the next slice
        sliced = sliced.withColumn(
            "slice",
            F.when(F.col("slice") == empty_slice, empty_slice + 1)
            .otherwise(F.col("slice")),
        )
    workdir = tempfile.mkdtemp(prefix="slice_pin_")
    try:
        indir = _write_time_slices(sliced, workdir, replay_slice=2)
        files = sorted(os.listdir(indir))
        assert files[:4] == [f"{i:04d}.parquet" for i in range(1, 5)]
        assert files[4].startswith("9999")
        expected = {
            i: {
                r["doc_id"]
                for r in sliced.where(F.col("slice") == i)
                .select("doc_id")
                .collect()
            }
            for i in range(1, 5)
        }
        for i in range(1, 5):
            got_df = spark.read.parquet(os.path.join(indir, f"{i:04d}.parquet"))
            # partitionBy drops the slice column from the data files
            assert "slice" not in got_df.columns
            # an empty slice's file carries the schema and no rows
            assert got_df.schema == docs.schema
            assert bool(expected[i]) == (i != empty_slice)
            got = {r["doc_id"] for r in got_df.select("doc_id").collect()}
            assert got == expected[i], f"slice {i} membership changed"
        # replay file is byte-identical to its source slice
        with open(os.path.join(indir, "0002.parquet"), "rb") as fh:
            src = fh.read()
        with open(os.path.join(indir, files[4]), "rb") as fh:
            rep = fh.read()
        assert src == rep
        # ascending mtimes -> chronological micro-batch order
        mtimes = [os.path.getmtime(os.path.join(indir, f)) for f in files]
        assert mtimes == sorted(mtimes)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
