"""Family 4 — Structured Streaming over the ``events`` stream table.

Each query is a real ``readStream -> transform -> writeStream`` pipeline.
One function, ``jobs._run_to_table``, drives every one of them to
completion (start, ``processAllAvailable``, stop) into a memory sink or a
foreachBatch function. A memory-sink result is the sink's own frame: the
stopped sink keeps its rows on the driver, so no lineage cut or second
copy is needed. Spark's unified model guarantees the batch SQL
equivalent is the oracle.

Watermark-sensitive results (which windows have finalized) depend on
micro-batch boundaries, so append-mode outputs are oracle-checked only
where the finalization condition is deterministic (single-batch input:
windows with end <= max(ts) - delay); genuinely order-dependent ops
(late-data drop) are rows-only with pytest assertions instead.
"""

from opencode_hive_archon_spark.streaming.jobs import SPECS  # noqa: F401
