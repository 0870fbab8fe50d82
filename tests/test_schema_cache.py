"""The session's table-schema cache and the fixed job cost it removes.

``read_table`` hands the parquet reader the schema Spark inferred on the
table's first read in the session (``session._table_schema``), keyed on
the session id, the files' stamps and the parquet type-mapping confs. These
tests pin that the cached schema is exactly what inference gives, that a
warm read runs no Spark job, that a rewritten file or a flipped conf is
inferred again, and the job count of a benchmark query that an inference
job per read would raise.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opencode_hive_archon_spark import session
from opencode_hive_archon_spark.operators.tpch_style import q8_market_share
from opencode_hive_archon_spark.session import (
    TABLE_NAMES,
    _fix_ts,
    _table_schema,
    normalize_timestamps,
    read_table,
)


def _in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids of
    the jobs that group ran."""
    sc = spark.sparkContext
    group = f"schema_cache_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "under test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_cached_schema_equals_inferred(spark, sf_dir, sf, name):
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    path = f"{sf_dir}/{name}.parquet"
    read_table(spark, sf_dir, name)  # fills the cache (and, for events, the conf)
    inferred = spark.read.parquet(path)
    want = _fix_ts(inferred) if name == "events" else normalize_timestamps(inferred)
    assert _table_schema(spark, path) == inferred.schema
    assert read_table(spark, sf_dir, name).schema.json() == want.schema.json()


def test_warm_read_runs_no_job(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(session, "_SCHEMAS", {})
    _, cold = _in_group(spark, lambda: read_table(spark, sf_dir, "orders"))
    assert len(cold) == 1  # the inference job, once
    _, warm = _in_group(spark, lambda: read_table(spark, sf_dir, "orders"))
    assert warm == []


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first = read_table(spark, str(tmp_path), "t")
    assert first.columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    second = read_table(spark, str(tmp_path), "t")
    assert second.columns == ["a", "b"]
    assert [tuple(r) for r in second.collect()] == [(3, "x")]


def test_type_mapping_conf_flip_is_inferred_again(spark, tmp_path):
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    pq.write_table(
        pa.table({
            "n": pa.array([1_000_000_123], pa.timestamp("ns")),
            "u": pa.array([1_000_000], pa.timestamp("us")),
        }),
        str(tmp_path / "t.parquet"),
        version="2.6",
    )
    path = str(tmp_path / "t.parquet")
    prev = {c: spark.conf.get(c, None) for c in (nanos, ntz)}
    try:
        spark.conf.set(nanos, "true")
        spark.conf.set(ntz, "true")
        assert read_table(spark, str(tmp_path), "t").dtypes == [
            ("n", "bigint"), ("u", "timestamp")
        ]
        assert _table_schema(spark, path)["u"].dataType.typeName() == "timestamp_ntz"
        spark.conf.set(ntz, "false")
        assert _table_schema(spark, path)["u"].dataType.typeName() == "timestamp"
        # Spark cannot map TIMESTAMP(NANOS) without nanosAsLong: inference
        # fails, where a cache keyed without the conf would serve bigint
        spark.conf.set(nanos, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_table(spark, str(tmp_path), "t")
        spark.conf.set(nanos, "true")
        assert read_table(spark, str(tmp_path), "t").collect()[0]["n"] == 1_000_000_123
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_q8_market_share_job_count(spark, sf_dir):
    """At sf0.001, a q8_market_share call and collect over warm schemas
    runs 11 jobs in the caller's group; an inference job per table read
    would add 8 (7 tables, nation read twice)."""
    q8_market_share(spark, sf_dir)  # warms the schemas of its 7 tables
    rows, jobs = _in_group(spark, lambda: q8_market_share(spark, sf_dir).collect())
    assert rows
    assert len(jobs) == 11
