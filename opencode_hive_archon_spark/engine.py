"""RecallEngine — the library API (reference parity: §3.3, R15, R18).

The Spark-native equivalent of the reference's RecallOrchestrator.run /
run_recall surface: construct with a SparkSession + config snapshots, call
``recall(request)`` and get the full envelope row (provider, summary,
branch, action, candidates) computed in one DataFrame plan against the
document store.

Stage map (SURVEY.md §3.1):
  route (driver-side Python)      -> source + plan-shape selection
  none-provider early exit        -> constant EMPTY_SET envelope
  scan + score + top-k            -> session-resident corpus (documents read,
                                     partitioned and tokenized once per
                                     session, keyed by the files' stamps),
                                     overlap rescoring, TakeOrderedAndProject
  [external rerank]               -> window count over the top-k, re-sort
  branch classify + envelope      -> when() cascade + struct assembly, Column
                                     lists built once per route shape
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencode_hive_archon_spark.config import (
    RecallDefaults,
    RetrievalRequest,
    default_feature_flags,
    default_provider_status,
)
from opencode_hive_archon_spark.operators import recall as recall_ops
from opencode_hive_archon_spark.plans.routing import route_retrieval


class RecallEngine:
    """Entry point mirroring MCPServer.recall_search (mcp_server.py:13-47)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        feature_flags: dict[str, bool] | None = None,
        provider_status: dict[str, str] | None = None,
        defaults: RecallDefaults | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.feature_flags = feature_flags or default_feature_flags()
        self.provider_status = provider_status or default_provider_status()
        self.defaults = defaults or RecallDefaults()

    def recall(
        self,
        request: RetrievalRequest,
        validation_mode: bool = False,
        force_branch: str | None = None,
    ) -> DataFrame:
        """Route -> provider scan -> native top-k -> [external rerank stage]
        -> classify -> envelope (reference RecallOrchestrator.run,
        agents/recall.py:37-144).

        The external rerank is a REAL plan stage, added or elided per the
        routing policy + feature flags exactly as reference step 3
        (recall.py:88-102): skip_external_rerank drops it (provider-native
        metadata), external_rerank_enabled=False drops it (disabled
        metadata), otherwise the VoyageRerankService rescoring stage is
        appended to the plan. ``validation_mode`` + ``force_branch``
        reproduce the forced-branch candidate rewriting (R16,
        recall.py:164-229) and stamp validation_mode/forced_branch into the
        routing metadata (recall.py:113-114).
        """
        flags_json = recall_ops._snapshot_json(self.feature_flags)
        status_json = recall_ops._snapshot_json(self.provider_status)
        provider, opts = route_retrieval(request, self.provider_status, self.feature_flags)
        if provider == "none":
            # Reference none-path (recall.py:62-76): metadata carries the
            # ACTUAL request mode (the hardcoded-"conversation" quirk only
            # applies to _build_routing_metadata on the normal path).
            return recall_ops.build_envelope(
                self._no_candidates(),
                provider="none",
                threshold=request.threshold,
                rerank_bypassed=False,
                mode=request.mode,
                rerank_policy="none",
                flags_json=flags_json,
                status_json=status_json,
            )
        skip = opts["skip_external_rerank"]
        enabled = self.feature_flags.get("external_rerank_enabled", True)
        if not request.query.strip():
            # Blank query: the provider returns nothing (memory.py:46-47) —
            # routing metadata still reflects the routed provider + policy.
            scored = self._no_candidates()
        elif provider == "mem0":
            # mem0's provider-native rerank IS the overlap rescoring.
            scored = recall_ops.scored_candidates(self.spark, self.sf_dir, request.query)
        else:
            scored = recall_ops.supabase_native_candidates(
                self.spark, self.sf_dir, request.query
            )
        topk = scored.orderBy(F.col("confidence").desc(), F.col("id").asc()).limit(
            request.top_k
        )
        if skip:
            policy = "provider-native"
        elif not enabled:
            policy = "disabled"
        else:
            policy = "external"
            topk = recall_ops.external_rerank_stage(topk, request.query, request.top_k)
        return recall_ops.build_envelope(
            topk,
            provider=provider,
            threshold=request.threshold,
            rerank_bypassed=skip,
            rerank_policy=policy,
            flags_json=flags_json,
            status_json=status_json,
            force_branch=force_branch if validation_mode else None,
            validation_mode=validation_mode,
        )

    def _no_candidates(self) -> DataFrame:
        """Zero-row candidate frame with the provider-scan schema."""
        return self.spark.range(0).select(
            F.col("id"),
            F.lit("").alias("content"),
            F.lit("").alias("source"),
            F.lit(0.0).alias("confidence"),
        )
