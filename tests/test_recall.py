"""Family 1 tests: branch truth table, routing policy, recall pipeline.

Mirrors the reference's test strategy (SURVEY.md §5): deterministic branch
semantics over controlled inputs + repeated-run determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from opencode_hive_archon_spark.config import RetrievalRequest
from opencode_hive_archon_spark.operators.recall import (
    recall_envelope,
    recall_score_topk,
    recall_summary_branch,
)
from opencode_hive_archon_spark.plans import branching
from opencode_hive_archon_spark.plans.routing import route_retrieval


def classify(spark, count, top, threshold=0.6, bypassed=False, provider="mem0"):
    """Evaluate the branch cascade over a literal one-row aggregate."""
    df = spark.range(1).select(
        F.lit(count).alias("candidate_count"), F.lit(float(top)).alias("top_confidence")
    )
    row = df.select(
        branching.branch_col(
            F.col("candidate_count"), F.col("top_confidence"), threshold, bypassed, provider
        ).alias("branch")
    ).first()
    return row["branch"]


class TestBranchTruthTable:
    """determine_branch truth table (reference fallbacks.py:162-199)."""

    def test_empty_set(self, spark):
        assert classify(spark, 0, 0.0) == "EMPTY_SET"

    def test_low_confidence_before_bypass(self, spark):
        # LOW_CONFIDENCE is checked BEFORE the bypass branch.
        assert classify(spark, 2, 0.45, bypassed=True) == "LOW_CONFIDENCE"

    def test_rerank_bypassed_requires_mem0(self, spark):
        assert classify(spark, 2, 0.85, bypassed=True, provider="mem0") == "RERANK_BYPASSED"
        assert classify(spark, 2, 0.85, bypassed=True, provider="supabase") == "SUCCESS"

    def test_success(self, spark):
        assert classify(spark, 2, 0.85) == "SUCCESS"

    def test_threshold_boundary(self, spark):
        # top == threshold is NOT low confidence (strict <).
        assert classify(spark, 1, 0.6) == "SUCCESS"

    def test_constant_provider_folds_on_the_driver(self, spark):
        """A Python-constant provider or bypass flag is folded before the
        Column is built: no `'mem0' = 'mem0'` term (the JVM warns on every
        trivially true equality), and a data-driven operand survives."""
        for bypassed in (True, False, None):
            for provider in ("mem0", "supabase", None):
                col = branching.branch_col(
                    F.col("n"), F.col("top"), 0.6, bypassed, provider
                )
                assert "'mem0'" not in str(col), (bypassed, provider, str(col))
        mixed = branching.branch_col(F.col("n"), F.col("top"), 0.6, True, F.col("p"))
        assert "=(p, 'mem0')" in str(mixed)
        flag = branching.branch_col(F.col("n"), F.col("top"), 0.6, F.col("b"), "mem0")
        assert "WHEN b THEN 'RERANK_BYPASSED'" in str(flag)
        assert classify(spark, 2, 0.85, bypassed=None, provider="mem0") == "SUCCESS"

    def test_constant_branch_folds_on_the_driver(self, spark):
        """A forced branch passed as its Python code is folded before the
        Column is built: no `'SUCCESS' = 'SUCCESS'` term reaches the plan,
        and every per-branch column equals the one the CASE over a
        literal branch computes."""
        n, top = F.lit(3).cast("long"), F.lit(0.4)
        fns = [
            branching.action_col,
            lambda b: branching.threshold_met_col(b, top, 0.6),
            lambda b: branching.rerank_applied_col(b, False),
            lambda b: branching.reason_col(b, n, top, 0.6),
            branching.suggestion_col,
        ]
        folded, cased = [], []
        for code in (*branching.BRANCH_ACTION, "UNKNOWN"):
            for fn in fns:
                col = fn(code)
                for other in branching.BRANCH_ACTION:
                    assert f"'{other}'" not in str(col), (code, str(col))
                folded.append(col)
                cased.append(fn(F.lit(code)))
        row = spark.range(1).select(
            *[c.alias(f"f{i}") for i, c in enumerate(folded)],
            *[c.alias(f"c{i}") for i, c in enumerate(cased)],
        ).first()
        assert [row[f"f{i}"] for i in range(len(folded))] == [
            row[f"c{i}"] for i in range(len(cased))
        ]

    def test_actions(self, spark):
        for branch, action in branching.BRANCH_ACTION.items():
            row = (
                spark.range(1)
                .select(branching.action_col(F.lit(branch)).alias("a"))
                .first()
            )
            assert row["a"] == action


class TestRoutingPolicy:
    """Routing truth table (reference retrieval_router.py:16-116)."""

    STATUS = {"mem0": "available", "supabase": "available", "graphiti": "unavailable"}
    FLAGS = {"mem0_enabled": True, "supabase_enabled": True, "graphiti_enabled": False}

    def test_conversation_prefers_mem0_with_skip(self):
        p, opts = route_retrieval(
            RetrievalRequest(query="q", mode="conversation"), self.STATUS, self.FLAGS
        )
        assert p == "mem0" and opts["skip_external_rerank"] is True

    def test_conversation_falls_to_supabase(self):
        status = {"mem0": "unavailable", "supabase": "available"}
        p, opts = route_retrieval(
            RetrievalRequest(query="q", mode="conversation"), status, self.FLAGS
        )
        assert p == "supabase" and opts["skip_external_rerank"] is False

    def test_fast_fixed_priority(self):
        p, _ = route_retrieval(RetrievalRequest(query="q", mode="fast"), self.STATUS, self.FLAGS)
        assert p == "mem0"

    def test_degraded_only_hits_final_fallback(self):
        status = {"mem0": "degraded", "supabase": "degraded"}
        p, _ = route_retrieval(
            RetrievalRequest(query="q", mode="conversation"), status, self.FLAGS
        )
        # enabled order is (graphiti, mem0, supabase); graphiti disabled.
        assert p == "mem0"

    def test_none_when_all_disabled(self):
        p, opts = route_retrieval(
            RetrievalRequest(query="q"),
            {},
            {"mem0_enabled": False, "supabase_enabled": False},
        )
        assert p == "none" and opts["skip_external_rerank"] is False

    def test_override_honored_iff_enabled(self):
        req = RetrievalRequest(query="q", provider_override="supabase")
        p, _ = route_retrieval(req, self.STATUS, self.FLAGS)
        assert p == "supabase"
        req2 = RetrievalRequest(query="q", provider_override="graphiti")
        p2, _ = route_retrieval(req2, self.STATUS, self.FLAGS)
        assert p2 == "mem0"  # falls through to normal selection


class TestRecallPipeline:
    def test_topk_is_total_ordered(self, spark, sf_dir):
        rows = recall_score_topk(spark, sf_dir).collect()
        assert len(rows) == 5
        confs = [r["confidence"] for r in rows]
        assert confs == sorted(confs, reverse=True)
        assert all(0.0 <= c <= 1.0 for c in confs)

    def test_summary_branch_shape(self, spark, sf_dir):
        row = recall_summary_branch(spark, sf_dir).first()
        assert row["candidate_count"] == 5
        assert row["branch"] in ("RERANK_BYPASSED", "LOW_CONFIDENCE", "SUCCESS")
        assert row["action"] in ("proceed", "clarify")

    def test_envelope_json_candidates(self, spark, sf_dir):
        row = recall_envelope(spark, sf_dir).first()
        assert row["provider"] == "mem0"
        assert row["candidates_json"].startswith('[{"id":')
        assert row["candidates_json"].count('"confidence"') == 5

    def test_deterministic_replay(self, spark, sf_dir):
        # The reference asserts x5 repeated-run identity; same invariant here.
        results = [
            tuple(r) for _ in range(3) for r in recall_score_topk(spark, sf_dir).collect()
        ]
        assert results == results[:5] * 3


class TestRecallEngine:
    """Engine-level flow parity with the reference integration tests
    (reference tests/test_recall_flow_integration.py:13-158)."""

    def _engine(self, spark, sf_dir, flags=None, status=None):
        from opencode_hive_archon_spark.engine import RecallEngine

        return RecallEngine(spark, sf_dir, feature_flags=flags, provider_status=status)

    def test_success_branch_mem0(self, spark, sf_dir):
        row = self._engine(spark, sf_dir).recall(
            RetrievalRequest(query="fast hash join", mode="conversation")
        ).first()
        assert row["branch"] == "RERANK_BYPASSED"
        assert row["action"] == "proceed"
        assert row["provider"] == "mem0"
        assert row["rerank_type"] == "provider-native"
        assert row["rerank_bypass_reason"] == "mem0-default-policy"
        assert row["skip_external_rerank"] is True
        assert row["mode"] == "conversation"
        assert row["suggestion"] is None

    def test_external_rerank_stage_runs_for_supabase(self, spark, sf_dir):
        row = self._engine(
            spark, sf_dir, status={"mem0": "unavailable", "supabase": "available"}
        ).recall(RetrievalRequest(query="fast hash join", mode="conversation")).first()
        assert row["provider"] == "supabase"
        assert row["skip_external_rerank"] is False
        assert row["rerank_type"] == "external"
        assert row["rerank_bypass_reason"] is None
        # every reranked candidate carries the rerank_adjusted metadata stamp
        assert row["candidates_json"].count('"rerank_adjusted":true') == row["candidate_count"]
        # SUCCESS reports the bypass flag verbatim (reference quirk)
        assert row["branch"] == "SUCCESS" and row["rerank_applied"] is False

    def test_external_rerank_disabled_flag(self, spark, sf_dir):
        flags = {
            "mem0_enabled": True, "supabase_enabled": True,
            "graphiti_enabled": False, "external_rerank_enabled": False,
        }
        row = self._engine(
            spark, sf_dir, flags=flags,
            status={"mem0": "unavailable", "supabase": "available"},
        ).recall(RetrievalRequest(query="fast hash join", mode="conversation")).first()
        assert row["rerank_type"] == "none"
        assert row["rerank_bypass_reason"] == "external_rerank_disabled"
        assert '"rerank_adjusted"' not in row["candidates_json"]

    def test_none_provider_uses_request_mode(self, spark, sf_dir):
        row = self._engine(
            spark, sf_dir,
            flags={"mem0_enabled": False, "supabase_enabled": False},
        ).recall(RetrievalRequest(query="q", mode="fast")).first()
        assert row["provider"] == "none"
        assert row["branch"] == "EMPTY_SET" and row["action"] == "fallback"
        assert row["mode"] == "fast"  # none-path carries the REAL mode
        assert row["rerank_type"] == "none"

    def test_blank_query_empty_set_keeps_routed_provider(self, spark, sf_dir):
        row = self._engine(spark, sf_dir).recall(
            RetrievalRequest(query="   ", mode="conversation")
        ).first()
        assert row["provider"] == "mem0"
        assert row["branch"] == "EMPTY_SET"
        assert row["rerank_type"] == "provider-native"

    def test_routing_metadata_complete(self, spark, sf_dir):
        # reference test_recall_flow_integration.py:133-158
        cols = set(
            self._engine(spark, sf_dir)
            .recall(RetrievalRequest(query="metadata test", mode="conversation"))
            .columns
        )
        for field in (
            "provider", "mode", "skip_external_rerank", "rerank_type",
            "rerank_bypass_reason", "feature_flags_json", "provider_status_json",
            "suggestion",
        ):
            assert field in cols, f"missing {field}"

    def test_validation_mode_forces_branch(self, spark, sf_dir):
        eng = self._engine(spark, sf_dir)
        req = RetrievalRequest(query="fast hash join", mode="conversation")
        row = eng.recall(req, validation_mode=True, force_branch="CHANNEL_MISMATCH").first()
        assert row["branch"] == "CHANNEL_MISMATCH" and row["action"] == "escalate"
        assert row["validation_mode"] is True
        assert row["forced_branch"] == "CHANNEL_MISMATCH"
        low = eng.recall(req, validation_mode=True, force_branch="LOW_CONFIDENCE").first()
        assert low["branch"] == "LOW_CONFIDENCE"
        assert low["top_confidence"] == 0.4  # rewritten constant (R16)
        assert low["candidates_json"].count('"confidence":0.40') == low["candidate_count"]

    def test_forced_empty_set_keeps_prefforce_rerank_metadata(self, spark, sf_dir):
        # Reference computes rerank metadata in step 3 from the REAL candidate
        # set; the forced EMPTY_SET rewrite (step 4) empties candidates but
        # must not retroactively flip rerank_type to 'none' on the external
        # route (agents/recall.py:88-102 vs :164-229).
        row = self._engine(
            spark, sf_dir, status={"mem0": "unavailable", "supabase": "available"}
        ).recall(
            RetrievalRequest(query="fast hash join", mode="conversation"),
            validation_mode=True,
            force_branch="EMPTY_SET",
        ).first()
        assert row["branch"] == "EMPTY_SET"
        assert row["candidate_count"] == 0
        assert row["candidates_json"] == "[]"
        assert row["top_confidence"] == 0.0
        assert row["rerank_type"] == "external"  # >1 real pre-force candidates

    def test_validation_mode_off_by_default(self, spark, sf_dir):
        df = self._engine(spark, sf_dir).recall(
            RetrievalRequest(query="fast hash join", mode="conversation")
        )
        assert "validation_mode" not in df.columns


def test_rewritten_documents_replace_the_cached_corpus(spark, tmp_path):
    """The session-resident corpus is keyed by the documents files'
    stamps: a rewritten table is served from its new text, and the old
    version's entry is unpersisted and dropped, so one entry per path
    stays cached."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from opencode_hive_archon_spark import session
    from opencode_hive_archon_spark.mcp import MCPServer

    path = tmp_path / "documents.parquet"

    def write(texts):
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "source": ["src0"] * len(texts),
            }),
            path,
        )

    def corpus_entries():
        return {
            k: df for k, df in session._KEYED.items()
            if k[1:3] == ("recall_corpus", os.path.abspath(path))
        }

    server = MCPServer(spark, str(tmp_path))
    write(["alpha beta", "gamma delta", "alpha"])
    first = server.recall_search("alpha", top_k=1)
    assert [c["content"] for c in first["candidates"]] == ["alpha beta"]
    (old,) = corpus_entries().values()

    write(["zeta eta", "theta alpha iota", "kappa"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # a coarse clock
    second = server.recall_search("alpha", top_k=1)
    assert [c["content"] for c in second["candidates"]] == ["theta alpha iota"]
    assert second["confidence"] == 0.55
    entries = corpus_entries()
    assert len(entries) == 1
    assert old not in entries.values() and not old.is_cached
