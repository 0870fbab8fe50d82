"""MCP adapter + scenario-corpus API parity tests.

Key-structure parity with the reference serving surface:
MCPCompatibilityResponse (schemas.py:6-57), MCPServer.recall_search /
validate_branch (mcp_server.py:13-94), and the scenario shortcut sets
(manual_branch_scenarios.py:250-280).
"""

from __future__ import annotations

import json

import pytest

from opencode_hive_archon_spark.mcp import MCPServer
from opencode_hive_archon_spark.plans import scenarios as SC

# Reference envelope key sets (schemas.py / context_packet.py / recall.py).
COMPAT_KEYS = {
    "context_packet", "next_action", "candidates", "branch", "confidence",
    "routing_metadata",
}
PACKET_KEYS = {"candidates", "summary", "provider", "rerank_applied", "timestamp"}
SUMMARY_KEYS = {"top_confidence", "candidate_count", "threshold_met", "branch"}
ACTION_KEYS = {"action", "reason", "branch_code", "suggestion"}
ROUTING_KEYS = {
    "selected_provider", "mode", "skip_external_rerank", "rerank_type",
    "rerank_bypass_reason", "feature_flags_snapshot", "provider_status_snapshot",
}
CANDIDATE_KEYS = {"id", "content", "source", "confidence", "metadata"}


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    return MCPServer(spark, sf_dir)


class TestRecallSearch:
    def test_envelope_key_parity(self, server):
        out = server.recall_search("fast hash join")
        assert set(out) == COMPAT_KEYS
        assert set(out["context_packet"]) == PACKET_KEYS
        assert set(out["context_packet"]["summary"]) == SUMMARY_KEYS
        assert set(out["next_action"]) == ACTION_KEYS
        assert set(out["routing_metadata"]) == ROUTING_KEYS
        for cand in out["candidates"]:
            assert set(cand) == CANDIDATE_KEYS

    def test_legacy_duplicates_mirror_nested(self, server):
        out = server.recall_search("fast hash join")
        assert out["candidates"] == out["context_packet"]["candidates"]
        assert out["branch"] == out["context_packet"]["summary"]["branch"]
        assert out["confidence"] == out["context_packet"]["summary"]["top_confidence"]
        assert out["next_action"]["branch_code"] == out["branch"]

    def test_flagship_route_values(self, server):
        out = server.recall_search("fast hash join")
        assert out["branch"] == "RERANK_BYPASSED"
        assert out["next_action"]["action"] == "proceed"
        rm = out["routing_metadata"]
        assert rm["selected_provider"] == "mem0"
        assert rm["rerank_type"] == "provider-native"
        assert rm["rerank_bypass_reason"] == "mem0-default-policy"
        assert rm["feature_flags_snapshot"]["mem0_enabled"] is True

    def test_provider_override(self, server):
        out = server.recall_search("fast hash join", provider_override="supabase")
        assert out["routing_metadata"]["selected_provider"] == "supabase"
        assert out["routing_metadata"]["rerank_type"] == "external"

    def test_compat_query_matches_adapter_shape(self, spark, sf_dir, server):
        """recall_compat (the driver query) serializes the same structure
        recall_search returns — modulo the response-time timestamp."""
        from opencode_hive_archon_spark.operators.recall import recall_compat

        row = recall_compat(spark, sf_dir).first()
        packet = json.loads(row["context_packet_json"])
        assert set(packet) == PACKET_KEYS - {"timestamp"}
        assert set(packet["summary"]) == SUMMARY_KEYS
        assert set(json.loads(row["next_action_json"])) == ACTION_KEYS
        assert set(json.loads(row["routing_metadata_json"])) == ROUTING_KEYS
        from opencode_hive_archon_spark.operators.recall import DEFAULT_QUERY

        out = server.recall_search(DEFAULT_QUERY)
        assert json.loads(row["candidates"]) == out["candidates"]
        assert row["branch"] == out["branch"]


class TestValidateBranch:
    def test_unknown_scenario(self, server):
        out = server.validate_branch("S999")
        assert out == {"success": False, "error": "Scenario S999 not found"}

    @pytest.mark.parametrize("sid", [s[0] for s in SC.SCENARIOS])
    def test_every_scenario_matches(self, server, sid):
        out = server.validate_branch(sid)
        assert out["success"] is True
        assert set(out) == {
            "success", "scenario_id", "description", "expected_branch",
            "actual_branch", "expected_action", "actual_action", "rerank_type",
            "provider", "branch_match", "action_match",
        }
        assert out["branch_match"] is True, out
        assert out["action_match"] is True, out

    def test_rerank_type_semantics(self, server):
        # S001: mem0 conversation route -> provider-native
        assert server.validate_branch("S001")["rerank_type"] == "provider-native"
        # S004: supabase with 2 candidates -> external
        assert server.validate_branch("S004")["rerank_type"] == "external"
        # S022: external rerank disabled -> none
        assert server.validate_branch("S022")["rerank_type"] == "none"
        # S015: degraded single candidate -> none (voyage single_candidate bypass)
        assert server.validate_branch("S015")["rerank_type"] == "none"


class TestScenarioAPI:
    def test_get_by_id(self):
        s = SC.get_scenario_by_id("S048")
        assert s is not None and s.expected_branch == "RERANK_BYPASSED"
        assert SC.get_scenario_by_id("nope") is None

    def test_shortcut_sets_partition_consistently(self):
        # reference manual_branch_scenarios.py:263-280
        assert {s.id for s in SC.get_smoke_scenarios()} == {"S001", "S002", "S003", "S004"}
        assert {s.id for s in SC.get_policy_scenarios()} == {
            "S001", "S022", "S025", "S026", "S048"
        }
        assert {s.id for s in SC.get_edge_scenarios()} == {
            "S002", "S003", "S013", "S014", "S027"
        }
        assert {s.id for s in SC.get_degraded_scenarios()} == {"S015", "S016"}

    def test_tag_filter_parameterized(self, spark, sf_dir):
        for tag in ("smoke", "policy", "edge", "degraded"):
            rows = SC.scenario_tag_filter(spark, sf_dir, tag=tag).collect()
            n = sum(r["n_scenarios"] for r in rows)
            assert n == len(SC.get_scenarios_by_tag(tag))


def _request_jobs(spark, action):
    """Run ``action`` under its own job group and return (result, the ids of
    the Spark jobs it ran). A control job in a second group runs after it:
    job events reach the status store in order, so once the control job is
    visible every job of the request is too."""
    import time
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    group, control = f"request-{tag}", f"control-{tag}"
    sc.setJobGroup(group, "request")
    try:
        out = action()
        sc.setJobGroup(control, "control")
        sc.parallelize([1]).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(control) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(control), "control job never reached the status store"
    return out, sorted(tracker.getJobIdsForGroup(group))


def _shuffle_rows_per_task(spark, job_ids):
    """Max shuffle-write records per map task over the jobs' stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    worst = 0.0
    for jid in job_ids:
        ids = store.job(jid).stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # never attempted: a skipped stage
                continue
            if st.status().toString() != "SKIPPED" and st.numTasks():
                worst = max(worst, st.shuffleWriteRecords() / st.numTasks())
    return worst


class TestPerRequestPlanCost:
    """A warm request scans the session-resident corpus: one job for mem0,
    at most two for supabase, one single-task lookup for validate_branch,
    and no stage shuffles the documents (the only shuffle is the top-k's,
    at most k rows per map task)."""

    @pytest.fixture(scope="class", autouse=True)
    def warm(self, server):
        server.recall_search("fast hash join")
        server.recall_search("fast hash join", provider_override="supabase")
        server.validate_branch("S001")

    @pytest.mark.parametrize("override, max_jobs", [(None, 1), ("supabase", 2)])
    def test_recall_search_jobs(self, spark, server, override, max_jobs):
        out, jobs = _request_jobs(
            spark, lambda: server.recall_search("table scan merge", top_k=5,
                                                provider_override=override)
        )
        assert out["candidates"]
        assert 1 <= len(jobs) <= max_jobs, jobs
        assert _shuffle_rows_per_task(spark, jobs) <= 5

    def test_validate_branch_jobs(self, spark, server):
        out, jobs = _request_jobs(spark, lambda: server.validate_branch("S004"))
        assert out["branch_match"] and out["action_match"]
        assert len(jobs) <= 1, jobs
        assert _shuffle_rows_per_task(spark, jobs) == 0

    def test_envelope_columns_built_once_per_shape(self, spark, server, monkeypatch):
        """Two searches of one route shape with different queries and top_k
        look up one memo key, which carries the session's applicationId,
        and the second builds no Column."""
        from opencode_hive_archon_spark.operators import recall as R

        looked, built = [], []

        class Recording(dict):
            def get(self, key, default=None):
                looked.append(key)
                return super().get(key, default)

        real = R._envelope_columns
        monkeypatch.setattr(R, "_ENVELOPE_COLUMNS", Recording(R._ENVELOPE_COLUMNS))
        monkeypatch.setattr(R, "_envelope_columns", lambda *a: built.append(a) or real(*a))
        server.recall_search("fast hash join", top_k=3)
        n_built = len(built)
        server.recall_search("table scan merge", top_k=10)
        assert len(built) == n_built <= 1
        assert len(looked) == 2 and looked[0] == looked[1]
        assert looked[0][0] == spark.sparkContext.applicationId
