"""MCP/tool-server adapter (reference parity: R18/R19 serving surface).

Thin dict-returning entry points over the engine, mirroring the reference's
``MCPServer`` (mcp_server.py:13-94) and ``MCPCompatibilityResponse``
(schemas.py:6-57) key structure exactly:

* ``recall_search`` -> {context_packet, next_action, candidates, branch,
  confidence, routing_metadata} — the canonical nested envelope PLUS the
  flat legacy duplicates (candidates / branch / confidence), additive only.
* ``validate_branch`` -> {success, scenario_id, description,
  expected_branch, actual_branch, expected_action, actual_action,
  rerank_type, provider, branch_match, action_match} — or
  {success: False, error} for an unknown scenario id.

This is the ONE place the engine intentionally collects: a serving adapter
returns a single envelope row to its caller by contract (top_k is bounded),
so the ``.first()`` here is the reference's own response materialization,
not a distributed-operator anti-pattern.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from opencode_hive_archon_spark.config import RetrievalRequest
from opencode_hive_archon_spark.engine import RecallEngine
from opencode_hive_archon_spark.plans.scenarios import get_scenario_by_id, replay_frame


class MCPServer:
    """Engine-backed mirror of reference mcp_server.py:7-102."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        feature_flags: dict[str, bool] | None = None,
        provider_status: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.feature_flags = feature_flags
        self.provider_status = provider_status
        self.debug_mode = False

    # -- recall_search (mcp_server.py:13-47) --------------------------------

    def recall_search(
        self,
        query: str,
        mode: str = "conversation",
        top_k: int = 5,
        threshold: float = 0.6,
        provider_override: str | None = None,
    ) -> dict[str, Any]:
        engine = RecallEngine(
            self.spark, self.sf_dir,
            feature_flags=self.feature_flags, provider_status=self.provider_status,
        )
        row = engine.recall(
            RetrievalRequest(
                query=query, mode=mode, top_k=top_k, threshold=threshold,
                provider_override=provider_override,
            )
        ).first()
        candidates = json.loads(row["candidates_json"])
        context_packet = {
            "candidates": candidates,
            "summary": {
                "top_confidence": row["top_confidence"],
                "candidate_count": row["candidate_count"],
                "threshold_met": row["threshold_met"],
                "branch": row["branch"],
            },
            "provider": row["provider"],
            "rerank_applied": row["rerank_applied"],
            # contract default-factory field (context_packet.py:28) — stamped
            # at response assembly, deliberately outside the hashed envelope.
            "timestamp": datetime.now(timezone.utc).isoformat(),
        }
        next_action = {
            "action": row["action"],
            "reason": row["reason"],
            "branch_code": row["branch"],
            "suggestion": row["suggestion"],
        }
        routing_metadata = {
            "selected_provider": row["provider"],
            "mode": row["mode"],
            "skip_external_rerank": row["skip_external_rerank"],
            "rerank_type": row["rerank_type"],
            "rerank_bypass_reason": row["rerank_bypass_reason"],
            "feature_flags_snapshot": json.loads(row["feature_flags_json"]),
            "provider_status_snapshot": json.loads(row["provider_status_json"]),
        }
        return {
            # contract envelope (canonical)
            "context_packet": context_packet,
            "next_action": next_action,
            # legacy compatibility duplicates (additive only, schemas.py:18-20)
            "candidates": candidates,
            "branch": row["branch"],
            "confidence": row["top_confidence"],
            "routing_metadata": routing_metadata,
        }

    # -- validate_branch (mcp_server.py:49-94) ------------------------------

    def validate_branch(self, scenario_id: str) -> dict[str, Any]:
        scenario = get_scenario_by_id(scenario_id)
        if scenario is None:
            return {"success": False, "error": f"Scenario {scenario_id} not found"}
        row = (
            replay_frame(self.spark)
            .filter(F.col("id") == F.lit(scenario_id))
            .first()
        )
        # step-3 rerank metadata from the replay facts (agents/recall.py:88-102;
        # voyage.py:30-52: rerank only runs with >0 candidates and reports
        # 'external' only when >1 were actually reranked).
        if row["skip_rerank"]:
            rerank_type = "provider-native"
        elif row["candidate_count"] > 1 and row["external_enabled"]:
            rerank_type = "external"
        else:
            rerank_type = "none"
        return {
            "success": True,
            "scenario_id": scenario_id,
            "description": scenario.description,
            "expected_branch": scenario.expected_branch,
            "actual_branch": row["actual_branch"],
            "expected_action": scenario.expected_action,
            "actual_action": row["actual_action"],
            "rerank_type": rerank_type,
            "provider": row["provider"],
            "branch_match": row["actual_branch"] == scenario.expected_branch,
            "action_match": row["actual_action"] == scenario.expected_action,
        }

    # -- debug toggles (mcp_server.py:96-102) -------------------------------

    def enable_debug_mode(self) -> None:
        self.debug_mode = True

    def disable_debug_mode(self) -> None:
        self.debug_mode = False
