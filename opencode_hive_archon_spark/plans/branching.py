"""Branch classification + action mapping (reference parity: R12-R14).

Semantics from /root/reference/backend/src/second_brain/orchestration/
fallbacks.py:162-199, re-expressed as a single ``when()`` cascade evaluated
over the one-row confidence aggregate — order is load-bearing:

    count == 0                      -> EMPTY_SET       (fallbacks.py:181-182)
    top_confidence < threshold      -> LOW_CONFIDENCE  (:187-190, BEFORE bypass)
    rerank_bypassed AND mem0        -> RERANK_BYPASSED (:193-194)
    otherwise                       -> SUCCESS         (:197-199)

Preserved quirks (observable behavior, SURVEY.md §7 risk register):
* RERANK_BYPASSED computes ``threshold_met`` against a FIXED 0.6, ignoring
  the request threshold (fallbacks.py:115);
* LOW_CONFIDENCE and EMPTY_SET force ``threshold_met = false`` and
  ``rerank_applied = false`` even when a native rerank ran (:29-33, :58-62);
* RERANK_BYPASSED reports ``rerank_applied = true`` (provider-native,
  :119); SUCCESS reports the bypass flag verbatim (:198).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMPTY_SET = "EMPTY_SET"
LOW_CONFIDENCE = "LOW_CONFIDENCE"
CHANNEL_MISMATCH = "CHANNEL_MISMATCH"
RERANK_BYPASSED = "RERANK_BYPASSED"
SUCCESS = "SUCCESS"

BRANCH_ACTION = {
    EMPTY_SET: "fallback",
    LOW_CONFIDENCE: "clarify",
    CHANNEL_MISMATCH: "escalate",
    RERANK_BYPASSED: "proceed",
    SUCCESS: "proceed",
}

# emit_rerank_bypassed hardcodes 0.6 (fallbacks.py:115) — not the request
# threshold. Faithfully preserved.
_BYPASS_FIXED_THRESHOLD = 0.6


def _lit(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _bypass_cond(rerank_bypassed, provider):
    """`rerank_bypassed AND provider = 'mem0'`, folded on the driver when
    an operand is a Python constant: a bool when both are, else the
    Column that is left. A constant never reaches the plan as
    `'mem0' = 'mem0'`, a trivially true predicate the JVM warns about."""
    if not isinstance(provider, Column):
        if provider != "mem0":
            return False
        return (
            rerank_bypassed
            if isinstance(rerank_bypassed, Column)
            else bool(rerank_bypassed)
        )
    if not isinstance(rerank_bypassed, Column):
        return bool(rerank_bypassed) and provider == "mem0"
    return rerank_bypassed & (provider == "mem0")


def branch_col(
    count: Column,
    top_confidence: Column,
    threshold,
    rerank_bypassed,
    provider,
) -> Column:
    """The CASE cascade. `threshold`/`rerank_bypassed`/`provider` may be
    plan-time Python constants or data-driven Columns (scenario replay)."""
    cascade = F.when(count == 0, F.lit(EMPTY_SET)).when(
        top_confidence < _lit(threshold), F.lit(LOW_CONFIDENCE)
    )
    bypass = _bypass_cond(rerank_bypassed, provider)
    if bypass is True:
        return cascade.otherwise(F.lit(RERANK_BYPASSED))
    if bypass is not False:
        cascade = cascade.when(bypass, F.lit(RERANK_BYPASSED))
    return cascade.otherwise(F.lit(SUCCESS))


def _by_branch(branch, arms, default) -> Column:
    """CASE over the branch: the value of the first arm whose codes hold
    it, else `default`. A Python-constant branch (a forced branch in
    validation mode) picks its arm on the driver, so no `'X' = 'X'`
    predicate reaches the plan — the JVM warns on every trivially true
    equality."""
    if not isinstance(branch, Column):
        return next((val for codes, val in arms if branch in codes), default)
    cascade = None
    for codes, val in arms:
        cond = branch == codes[0] if len(codes) == 1 else branch.isin(*codes)
        cascade = F.when(cond, val) if cascade is None else cascade.when(cond, val)
    return cascade.otherwise(default)


# Branches whose emitters force threshold_met and rerank_applied false.
_FALLBACKS = (EMPTY_SET, LOW_CONFIDENCE, CHANNEL_MISMATCH)


def action_col(branch) -> Column:
    """Branch -> next action (the emitters' action constants). `branch`
    is a Column or, for a forced branch, its Python code (so for every
    function below)."""
    return _by_branch(
        branch,
        [((code,), F.lit(action)) for code, action in BRANCH_ACTION.items()],
        F.lit(None).cast("string"),
    )


def threshold_met_col(branch, top_confidence: Column, threshold) -> Column:
    """Per-emitter threshold_met semantics (see module docstring)."""
    return _by_branch(
        branch,
        [
            (_FALLBACKS, F.lit(False)),
            ((RERANK_BYPASSED,), top_confidence >= F.lit(_BYPASS_FIXED_THRESHOLD)),
        ],
        F.lit(True),  # SUCCESS asserts threshold_met=True (:146)
    )


def rerank_applied_col(branch, rerank_bypassed) -> Column:
    """Per-emitter rerank_applied semantics (fallbacks.py:33,62,90,119,149,198)."""
    return _by_branch(
        branch,
        [(_FALLBACKS, F.lit(False)), ((RERANK_BYPASSED,), F.lit(True))],
        _lit(rerank_bypassed),
    )


def reason_col(
    branch,
    count: Column,
    top_confidence: Column,
    threshold,
    expected_channel: str = "test_channel",
) -> Column:
    """Human-readable reason strings (the emitters' reason fields,
    fallbacks.py:38,67,95,124,154). LOW_CONFIDENCE interpolates scores
    with %.2f formatting exactly as the reference f-string does.
    CHANNEL_MISMATCH interpolates the expected channel — the reference only
    reaches that emitter through the forced-branch path, which passes
    "test_channel" (recall.py:191-194)."""
    return _by_branch(
        branch,
        [
            ((EMPTY_SET,), F.lit("No context candidates retrieved from any provider")),
            (
                (LOW_CONFIDENCE,),
                F.format_string(
                    "Top confidence %.2f below threshold %.2f",
                    top_confidence,
                    _lit(threshold),
                ),
            ),
            (
                (CHANNEL_MISMATCH,),
                F.lit(f"Retrieved context doesn't match expected channel: {expected_channel}"),
            ),
            (
                (RERANK_BYPASSED,),
                F.lit("Provider-native rerank applied, external rerank bypassed per policy"),
            ),
        ],
        F.format_string("Retrieved %d high-confidence candidates", count),
    )


def suggestion_col(branch) -> Column:
    """NextAction.suggestion per emitter (fallbacks.py:41,71,100,128,158):
    non-null for the three fallback branches, NULL for proceed branches."""
    return _by_branch(
        branch,
        [
            ((EMPTY_SET,), F.lit("Ask user to rephrase query or provide more context")),
            ((LOW_CONFIDENCE,), F.lit("Request clarification on query intent or narrow scope")),
            ((CHANNEL_MISMATCH,), F.lit("Escalate to human or trigger intent reclassification")),
        ],
        F.lit(None).cast("string"),
    )
