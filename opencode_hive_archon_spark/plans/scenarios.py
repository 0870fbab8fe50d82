"""Scenario corpus + replay harness (reference parity: R19, R21).

The 13 branch-validation scenarios (manual_branch_scenarios.py:23-247,
S001-S048) re-expressed as a declarative table, plus a SET-WISE replay: all
scenarios run through the engine in ONE DataFrame plan — routing is resolved
driver-side per scenario (it is plan configuration, SURVEY.md §4), then
candidate synthesis (the deterministic fallback source, memory.py:89-141),
conditional rerank rescoring (voyage.py:54-88), confidence aggregation and
the branch CASE all evaluate JVM-side across every scenario at once.

The replay's oracle is the EXPECTED table itself: the driver check then
asserts "the engine reproduces the reference's branch/action truth table".
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencode_hive_archon_spark import session
from opencode_hive_archon_spark.config import RetrievalRequest
from opencode_hive_archon_spark.functions.text import overlap_count
from opencode_hive_archon_spark.plans import branching
from opencode_hive_archon_spark.plans.routing import route_retrieval
from opencode_hive_archon_spark.spec import QuerySpec

# (id, description, query, mode, provider_status, feature_flags,
#  expected_branch, expected_action, expected_rerank_type, tags)
SCENARIOS = [
    ("S001", "Conversation Mem0 high confidence", "test high confidence query",
     "conversation", {"mem0": "available", "supabase": "available"},
     {"mem0_enabled": True, "supabase_enabled": True, "graphiti_enabled": False},
     "RERANK_BYPASSED", "proceed", "provider-native", ["smoke", "policy"]),
    ("S002", "Conversation Mem0 no candidates", "empty set query",
     "conversation", {"mem0": "available"},
     {"mem0_enabled": True, "supabase_enabled": False},
     "EMPTY_SET", "fallback", "none", ["smoke", "edge"]),
    ("S003", "Conversation Mem0 low confidence", "low confidence query",
     "conversation", {"mem0": "available"}, {"mem0_enabled": True},
     "LOW_CONFIDENCE", "clarify", "provider-native", ["smoke", "edge"]),
    ("S004", "Conversation Supabase high confidence", "supabase query",
     "conversation", {"mem0": "unavailable", "supabase": "available"},
     {"mem0_enabled": False, "supabase_enabled": True},
     "SUCCESS", "proceed", "external", ["smoke"]),
    ("S013", "All providers disabled", "no providers query",
     "conversation", {}, {"mem0_enabled": False, "supabase_enabled": False},
     "EMPTY_SET", "fallback", "none", ["edge"]),
    ("S014", "All providers unavailable", "all unavailable query",
     "conversation", {"mem0": "unavailable", "supabase": "unavailable"},
     {"mem0_enabled": True, "supabase_enabled": True},
     "EMPTY_SET", "fallback", "none", ["edge"]),
    ("S015", "Mem0 degraded, Supabase available fallback", "degraded mem0 query",
     "conversation", {"mem0": "degraded", "supabase": "available"},
     {"mem0_enabled": True, "supabase_enabled": True},
     "LOW_CONFIDENCE", "clarify", "none", ["degraded"]),
    ("S016", "Mem0 available, Supabase degraded", "mem0 primary query",
     "conversation", {"mem0": "available", "supabase": "degraded"},
     {"mem0_enabled": True, "supabase_enabled": True},
     "RERANK_BYPASSED", "proceed", "provider-native", ["degraded"]),
    ("S022", "Rerank service disabled", "rerank disabled query",
     "fast", {"mem0": "unavailable", "supabase": "available"},
     {"mem0_enabled": False, "supabase_enabled": True, "external_rerank_enabled": False},
     "SUCCESS", "proceed", "none", ["policy"]),
    ("S025", "Mem0 external override on", "mem0 override query",
     "conversation", {"mem0": "available"},
     {"mem0_enabled": True, "supabase_enabled": True, "mem0_external_override": True},
     "RERANK_BYPASSED", "proceed", "provider-native", ["policy"]),
    ("S026", "Mem0 external override off default", "mem0 default query",
     "conversation", {"mem0": "available"},
     {"mem0_enabled": True, "supabase_enabled": True},
     "RERANK_BYPASSED", "proceed", "provider-native", ["policy"]),
    ("S027", "Channel mismatch forced validation", "channel mismatch query",
     "conversation", {"mem0": "available"}, {"mem0_enabled": True},
     "CHANNEL_MISMATCH", "escalate", "none", ["edge", "validation"]),
    ("S048", "Deterministic replay test 1", "deterministic test query",
     "conversation", {"mem0": "available"}, {"mem0_enabled": True},
     "RERANK_BYPASSED", "proceed", "provider-native", ["policy", "deterministic"]),
]

FILTER_TAG = "smoke"


@dataclass(frozen=True)
class BranchScenario:
    """Typed view over a SCENARIOS row (reference BranchScenario model,
    manual_branch_scenarios.py:9-21)."""

    id: str
    description: str
    query: str
    mode: str
    provider_status: dict
    feature_flags: dict
    expected_branch: str
    expected_action: str
    expected_rerank_type: str
    tags: tuple


def get_all_scenarios() -> list[BranchScenario]:
    return [BranchScenario(*s[:9], tuple(s[9])) for s in SCENARIOS]


def get_scenario_by_id(scenario_id: str) -> BranchScenario | None:
    """Reference manual_branch_scenarios.py:250-255."""
    for s in get_all_scenarios():
        if s.id == scenario_id:
            return s
    return None


def get_scenarios_by_tag(tag: str) -> list[BranchScenario]:
    """Reference manual_branch_scenarios.py:258-260."""
    return [s for s in get_all_scenarios() if tag in s.tags]


def get_smoke_scenarios() -> list[BranchScenario]:
    return get_scenarios_by_tag("smoke")


def get_policy_scenarios() -> list[BranchScenario]:
    return get_scenarios_by_tag("policy")


def get_edge_scenarios() -> list[BranchScenario]:
    return get_scenarios_by_tag("edge")


def get_degraded_scenarios() -> list[BranchScenario]:
    return get_scenarios_by_tag("degraded")


def scenario_df(spark: SparkSession) -> DataFrame:
    rows = [
        (s[0], s[1], s[2], s[3], s[6], s[7], s[8], s[9]) for s in SCENARIOS
    ]
    return spark.createDataFrame(
        rows,
        "id string, description string, query string, mode string, "
        "expected_branch string, expected_action string, "
        "expected_rerank_type string, tags array<string>",
    )


def scenario_tag_filter(
    spark: SparkSession, sf_dir: str, tag: str = FILTER_TAG
) -> DataFrame:
    """R21: tag-filtered scenario counts per expected branch. ``tag`` selects
    any of the reference's shortcut sets (smoke/policy/edge/degraded,
    manual_branch_scenarios.py:263-280); the declared spec pins "smoke"."""
    return (
        scenario_df(spark)
        .filter(F.array_contains("tags", tag))
        .groupBy("expected_branch", "expected_action")
        .agg(F.count(F.lit(1)).alias("n_scenarios"))
        .orderBy("expected_branch")
    )


def _tag_filter_oracle(tag: str = FILTER_TAG) -> str:
    rows = ", ".join(
        f"('{s[0]}', '{s[6]}', '{s[7]}', {str(tag in s[9]).upper()})"
        for s in SCENARIOS
    )
    return f"""
WITH scenarios(id, expected_branch, expected_action, has_tag) AS (VALUES {rows})
SELECT expected_branch, expected_action, count(*) AS n_scenarios
FROM scenarios WHERE has_tag GROUP BY 1, 2
"""


def replay_frame(spark: SparkSession) -> DataFrame:
    """The set-wise replay core, computed once per session: one row per
    scenario with routing facts, confidence aggregate and the actual
    branch/action. It depends only on the module's scenario constants, so
    the ``scenario_replay`` query and every MCP ``validate_branch`` call
    read one keyed materialization of 13 rows in one partition (a lookup
    is one single-task job)."""
    return session.materialize_keyed(
        spark, ("scenario_replay",), lambda: _replay_frame(spark).coalesce(1)
    )


def _replay_frame(spark: SparkSession) -> DataFrame:
    """Plan the replay; callers read it through :func:`replay_frame`."""
    routed = []
    for (sid, _desc, query, mode, status, flags, eb, ea, _ert, tags) in SCENARIOS:
        provider, opts = route_retrieval(RetrievalRequest(query=query, mode=mode),
                                         status, flags)
        skip = opts["skip_external_rerank"]
        external_enabled = flags.get("external_rerank_enabled", True)
        force_branch = eb if "validation" in tags else None
        routed.append((sid, query, provider, skip, external_enabled, force_branch, eb, ea))
    base = spark.createDataFrame(
        routed,
        "id string, query string, provider string, skip_rerank boolean, "
        "external_enabled boolean, force_branch string, "
        "expected_branch string, expected_action string",
    )

    # Deterministic fallback source (memory.py:89-141) as an array column.
    q = F.lower(F.col("query"))
    cand = F.when(
        F.col("provider") == "none", F.array().cast("array<struct<content:string,confidence:double>>")
    ).when(
        q.contains("empty") | q.contains("no candidate"),
        F.array().cast("array<struct<content:string,confidence:double>>"),
    ).when(
        q.contains("low confidence"),
        F.array(F.struct(
            F.concat(F.lit("Low confidence result for: "), F.col("query")).alias("content"),
            F.lit(0.45).alias("confidence"),
        )),
    ).when(
        q.contains("degraded"),
        F.array(F.struct(
            F.concat(F.lit("Degraded result for: "), F.col("query")).alias("content"),
            F.lit(0.5).alias("confidence"),
        )),
    ).otherwise(
        F.array(
            F.struct(
                F.concat(F.lit("High confidence result for: "), F.col("query")).alias("content"),
                F.lit(0.85).alias("confidence"),
            ),
            F.struct(
                F.concat(F.lit("Secondary result for: "), F.col("query")).alias("content"),
                F.lit(0.72).alias("confidence"),
            ),
        )
    )
    with_cands = base.withColumn("cands", cand)

    # External rerank applies iff: not skipped AND >1 candidates AND enabled
    # (voyage.py:36-45 elides 0/1-candidate reranks). Rescoring per R7.
    ex = with_cands.select(
        "*", F.explode_outer("cands").alias("c")
    )
    rerank_applies = (
        (~F.col("skip_rerank"))
        & F.col("external_enabled")
        & (F.size("cands") > 1)
    )
    conf = F.when(
        rerank_applies,
        F.least(
            F.lit(1.0),
            F.col("c.confidence")
            + F.lit(0.05) * overlap_count(F.col("query"), F.col("c.content")),
        ),
    ).otherwise(F.col("c.confidence"))
    agg = (
        ex.groupBy(
            "id", "provider", "skip_rerank", "external_enabled", "force_branch",
            "expected_branch", "expected_action",
        )
        .agg(
            F.coalesce(F.max(conf), F.lit(0.0)).alias("top_confidence"),
            F.count(F.col("c.confidence")).alias("candidate_count"),
        )
    )
    natural = branching.branch_col(
        F.col("candidate_count"), F.col("top_confidence"),
        0.6, F.col("skip_rerank"), F.col("provider"),
    )
    actual_branch = F.coalesce(F.col("force_branch"), natural)
    return agg.select(
        "*",
        actual_branch.alias("actual_branch"),
        branching.action_col(actual_branch).alias("actual_action"),
    )


def scenario_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R19: replay every scenario through the engine pipeline set-wise;
    emit expected-vs-actual branch/action with match booleans."""
    return (
        replay_frame(spark)
        .select(
            "id", "expected_branch", "actual_branch",
            (F.col("expected_branch") == F.col("actual_branch")).alias("branch_match"),
            "expected_action", "actual_action",
            (F.col("expected_action") == F.col("actual_action")).alias("action_match"),
        )
        .orderBy("id")
    )


def _replay_oracle() -> str:
    """The reference truth table: every scenario's actual == expected."""
    rows = ", ".join(f"('{s[0]}', '{s[6]}', '{s[7]}')" for s in SCENARIOS)
    return f"""
WITH expected(id, branch, action) AS (VALUES {rows})
SELECT id, branch AS expected_branch, branch AS actual_branch, TRUE AS branch_match,
       action AS expected_action, action AS actual_action, TRUE AS action_match
FROM expected
"""


# --- R16: forced-branch candidate rewriting (validation mode) --------------
# Reference _force_branch_output (agents/recall.py:164-229): every branch
# code forced over both a populated and an empty candidate set, provider
# mem0 / skip_external_rerank=True / threshold 0.6. Expected rows in the
# oracle are hand-derived from the reference emitters (fallbacks.py).

_HI_Q = "test high confidence query"
_EMPTY_Q = "empty set query"
VALIDATION_SCENARIOS = [
    ("V01", _HI_Q, "EMPTY_SET"),
    ("V02", _HI_Q, "LOW_CONFIDENCE"),
    ("V03", _EMPTY_Q, "LOW_CONFIDENCE"),
    ("V04", _HI_Q, "CHANNEL_MISMATCH"),
    ("V05", _EMPTY_Q, "CHANNEL_MISMATCH"),
    ("V06", _HI_Q, "RERANK_BYPASSED"),
    ("V07", _EMPTY_Q, "RERANK_BYPASSED"),
    ("V08", _HI_Q, "SUCCESS"),
    ("V09", _EMPTY_Q, "SUCCESS"),
]
_CAND_T = "array<struct<cid:string,content:string,confidence:double,meta:string>>"


def scenario_forced_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16: validation-mode forced-branch replay, set-wise. The candidate
    rewriting happens IN the plan: LOW_CONFIDENCE rewrites confidences to
    0.4 (and reports the 0.4 constant even for empty sets — reference
    recall.py:177-190), RERANK_BYPASSED/SUCCESS synthesize the 'forced'
    candidate when the set is empty (recall.py:195-221), EMPTY_SET empties
    it (recall.py:175-176). Candidate metadata from the deterministic
    fallback source ({"mock":true}) rides through untouched."""
    base = spark.createDataFrame(
        VALIDATION_SCENARIOS, "id string, query string, force_branch string"
    )
    q = F.lower(F.col("query"))
    mk = lambda cid, content, conf, meta: F.struct(
        F.lit(cid).alias("cid"),
        content.alias("content"),
        F.lit(conf).cast("double").alias("confidence"),
        F.lit(meta).alias("meta"),
    )
    cands = F.when(
        q.contains("empty") | q.contains("no candidate"), F.expr(f"CAST(array() AS {_CAND_T})")
    ).otherwise(
        F.array(
            mk("mock-1", F.concat(F.lit("High confidence result for: "), F.col("query")),
               0.85, '{"mock":true}'),
            mk("mock-2", F.concat(F.lit("Secondary result for: "), F.col("query")),
               0.72, '{"mock":true}'),
        )
    )
    fb = F.col("force_branch")
    rewrite = (
        F.when(fb == branching.EMPTY_SET, F.expr(f"CAST(array() AS {_CAND_T})"))
        .when(
            fb == branching.LOW_CONFIDENCE,
            F.transform(
                F.col("cands"),
                lambda c: F.struct(
                    c["cid"].alias("cid"), c["content"].alias("content"),
                    F.lit(0.4).alias("confidence"), c["meta"].alias("meta"),
                ),
            ),
        )
        .when(
            (fb == branching.RERANK_BYPASSED) & (F.size("cands") == 0),
            F.array(mk("forced", F.lit("Forced rerank bypass"), 0.85, "{}")),
        )
        .when(
            (fb == branching.SUCCESS) & (F.size("cands") == 0),
            F.array(mk("forced", F.lit("Forced success"), 0.9, "{}")),
        )
        .otherwise(F.col("cands"))
    )
    staged = base.withColumn("cands", cands).withColumn("out", rewrite)
    top = F.when(fb == branching.LOW_CONFIDENCE, F.lit(0.4)).otherwise(
        F.coalesce(F.try_element_at("out", F.lit(1))["confidence"], F.lit(0.0))
    )
    cand_json = F.concat(
        F.lit("["),
        F.array_join(
            F.transform(
                F.col("out"),
                lambda c: F.format_string(
                    '{"id":"%s","content":"%s","source":"mem0","confidence":%.2f,"metadata":%s}',
                    c["cid"], c["content"], c["confidence"], c["meta"],
                ),
            ),
            ",",
        ),
        F.lit("]"),
    )
    branch = fb
    return staged.select(
        "id",
        branch.alias("branch"),
        branching.action_col(branch).alias("action"),
        branching.reason_col(branch, F.size("out").cast("long"), top, 0.6).alias("reason"),
        branching.suggestion_col(branch).alias("suggestion"),
        top.alias("top_confidence"),
        F.size("out").cast("long").alias("candidate_count"),
        branching.threshold_met_col(branch, top, 0.6).alias("threshold_met"),
        branching.rerank_applied_col(branch, True).alias("rerank_applied"),
        cand_json.alias("candidates_json"),
    ).orderBy("id")


def _forced_oracle() -> str:
    hi1 = f"High confidence result for: {_HI_Q}"
    hi2 = f"Secondary result for: {_HI_Q}"
    mk = lambda cid, content, conf, meta: (
        f'{{"id":"{cid}","content":"{content}","source":"mem0","confidence":{conf:.2f},"metadata":{meta}}}'
    )
    hi_85 = "[" + mk("mock-1", hi1, 0.85, '{"mock":true}') + "," + mk("mock-2", hi2, 0.72, '{"mock":true}') + "]"
    hi_40 = "[" + mk("mock-1", hi1, 0.4, '{"mock":true}') + "," + mk("mock-2", hi2, 0.4, '{"mock":true}') + "]"
    rows = [
        ("V01", "EMPTY_SET", "fallback",
         "No context candidates retrieved from any provider",
         "Ask user to rephrase query or provide more context",
         0.0, 0, False, False, "[]"),
        ("V02", "LOW_CONFIDENCE", "clarify",
         "Top confidence 0.40 below threshold 0.60",
         "Request clarification on query intent or narrow scope",
         0.4, 2, False, False, hi_40),
        ("V03", "LOW_CONFIDENCE", "clarify",
         "Top confidence 0.40 below threshold 0.60",
         "Request clarification on query intent or narrow scope",
         0.4, 0, False, False, "[]"),
        ("V04", "CHANNEL_MISMATCH", "escalate",
         "Retrieved context doesn''t match expected channel: test_channel",
         "Escalate to human or trigger intent reclassification",
         0.85, 2, False, False, hi_85),
        ("V05", "CHANNEL_MISMATCH", "escalate",
         "Retrieved context doesn''t match expected channel: test_channel",
         "Escalate to human or trigger intent reclassification",
         0.0, 0, False, False, "[]"),
        ("V06", "RERANK_BYPASSED", "proceed",
         "Provider-native rerank applied, external rerank bypassed per policy",
         None, 0.85, 2, True, True, hi_85),
        ("V07", "RERANK_BYPASSED", "proceed",
         "Provider-native rerank applied, external rerank bypassed per policy",
         None, 0.85, 1, True, True,
         "[" + mk("forced", "Forced rerank bypass", 0.85, "{}") + "]"),
        ("V08", "SUCCESS", "proceed",
         "Retrieved 2 high-confidence candidates", None,
         0.85, 2, True, True, hi_85),
        ("V09", "SUCCESS", "proceed",
         "Retrieved 1 high-confidence candidates", None,
         0.9, 1, True, True,
         "[" + mk("forced", "Forced success", 0.9, "{}") + "]"),
    ]
    vals = ", ".join(
        "('{}', '{}', '{}', '{}', {}, {}, {}, {}, {}, '{}')".format(
            r[0], r[1], r[2], r[3],
            "NULL" if r[4] is None else f"'{r[4]}'",
            r[5], r[6], str(r[7]).lower(), str(r[8]).lower(), r[9],
        )
        for r in rows
    )
    return f"""
WITH forced(id, branch, action, reason, suggestion, top_confidence,
            candidate_count, threshold_met, rerank_applied, candidates_json)
  AS (VALUES {vals})
SELECT id, branch, action, reason, CAST(suggestion AS VARCHAR) AS suggestion,
       CAST(top_confidence AS DOUBLE) AS top_confidence,
       CAST(candidate_count AS BIGINT) AS candidate_count,
       threshold_met, rerank_applied, candidates_json
FROM forced ORDER BY id
"""


SPECS = [
    QuerySpec("scenario_tag_filter", scenario_tag_filter, _tag_filter_oracle(),
              "retrieval", "tag-filtered scenario corpus counts (R21)"),
    QuerySpec("scenario_replay", scenario_replay, _replay_oracle(),
              "retrieval", "full scenario replay vs reference truth table (R19)"),
    QuerySpec("scenario_forced_branches", scenario_forced_branches, _forced_oracle(),
              "retrieval",
              "validation-mode forced-branch candidate rewriting (R16): all 5 branch "
              "codes x populated/empty candidate sets vs reference emitter semantics"),
]
