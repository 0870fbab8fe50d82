"""Edge-case contracts of the Arrow cosine kernel ``_qcos_rows``.

The kernel scores the candidate pairs of ``dedup_embedding_cosine`` one
Arrow batch at a time. Each case runs it twice, on a local Arrow batch and
through Spark's ``mapInArrow``, and compares both exactly with a plain
per-row model: ⌊x·2^20⌋ integer terms, exact integer dots, one double
divide, NaN for a zero norm.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from opencode_hive_archon_spark.operators.similarity import (
    NEAR_DUP_COSINE,
    QUANT_SCALE,
    _qcos_rows,
)

EMB = pa.list_(pa.float32())


def _model(a_rows, b_rows) -> np.ndarray:
    """Per-row quantized cosine in plain Python integers."""
    out = []
    for a, b in zip(a_rows, b_rows):
        qa = [math.floor(float(np.float32(x)) * QUANT_SCALE) for x in a]
        qb = [math.floor(float(np.float32(x)) * QUANT_SCALE) for x in b]
        dot = sum(x * y for x, y in zip(qa, qb))
        den = math.sqrt(float(sum(x * x for x in qa))) * math.sqrt(
            float(sum(y * y for y in qb))
        )
        out.append(dot / den if den != 0.0 else math.nan)
    return np.array(out, dtype=np.float64)


def _local(a_rows, b_rows) -> np.ndarray:
    return _qcos_rows(pa.array(a_rows, EMB), pa.array(b_rows, EMB), len(a_rows))


def _spark(spark, a_rows, b_rows) -> np.ndarray:
    """The same kernel inside ``mapInArrow``, one partition so row order is
    kept."""

    def kernel(batches):
        for b in batches:
            sim = _qcos_rows(b.column("ea"), b.column("eb"), b.num_rows)
            yield pa.RecordBatch.from_arrays([pa.array(sim, pa.float64())], ["sim"])

    df = spark.createDataFrame(
        list(zip(a_rows, b_rows)), "ea array<float>, eb array<float>"
    ).coalesce(1)
    return np.array(
        [r["sim"] for r in df.mapInArrow(kernel, "sim double").collect()],
        dtype=np.float64,
    )


def _unit_rows(rng, n: int, d: int = 16) -> list[list[float]]:
    v = rng.normal(0, 1, (n, d))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).tolist()


def test_random_batch_matches_model(spark):
    rng = np.random.default_rng(7)
    a, b = _unit_rows(rng, 64), _unit_rows(rng, 64)
    b[:8] = a[:8]  # a few exact duplicates score 1.0 up to rounding
    want = _model(a, b)
    np.testing.assert_array_equal(_local(a, b), want)
    np.testing.assert_array_equal(_spark(spark, a, b), want)
    np.testing.assert_allclose(want[:8], 1.0, rtol=0, atol=1e-12)


def test_empty_batch(spark):
    got = _qcos_rows(pa.array([], EMB), pa.array([], EMB), 0)
    assert got.shape == (0,) and got.dtype == np.float64
    assert _spark(spark, [], []).shape == (0,)


def test_one_row_batch(spark):
    a, b = [[0.6, 0.8, 0.0]], [[0.8, 0.6, 0.0]]
    want = _model(a, b)
    assert want.shape == (1,) and 0.9 < want[0] < 1.0
    np.testing.assert_array_equal(_local(a, b), want)
    np.testing.assert_array_equal(_spark(spark, a, b), want)


def test_zero_vectors_score_nan(spark):
    """A zero norm gives NaN, which the caller drops before the threshold."""
    a, b = [[0.0, 0.0], [1.0, 0.0]], [[1.0, 0.0], [0.0, 0.0]]
    assert np.isnan(_model(a, b)).all()
    assert np.isnan(_local(a, b)).all()
    assert np.isnan(_spark(spark, a, b)).all()


def test_null_embeddings(spark):
    """A null embedding beside real ones fails loudly as a ragged column
    rather than being reshaped into its neighbours' values; a batch of
    null embeddings only reads as zero vectors and scores NaN."""
    a, b = [[0.6, 0.8], None], [[0.8, 0.6], [1.0, 0.0]]
    with pytest.raises(ValueError, match="ragged"):
        _local(a, b)
    with pytest.raises(Exception, match="ragged"):
        _spark(spark, a, b)
    nulls = [None, None]
    assert np.isnan(_local(nulls, nulls)).all()
    assert np.isnan(_spark(spark, nulls, nulls)).all()


def test_batch_with_every_row_filtered_out(spark):
    """Orthogonal, opposite and near-orthogonal pairs: every score is under
    the near-dup threshold, so the caller keeps no row."""
    a = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0], [0.0, 0.0, 1.0]]
    b = [[0.0, 1.0, 0.0], [0.0, -1.0, 0.0], [0.8, -0.6, 0.0], [0.957, 0.0, 0.29]]
    want = _model(a, b)
    keep = ~np.isnan(want) & (want >= NEAR_DUP_COSINE)
    assert not keep.any()
    np.testing.assert_array_equal(_local(a, b), want)
    np.testing.assert_array_equal(_spark(spark, a, b), want)
