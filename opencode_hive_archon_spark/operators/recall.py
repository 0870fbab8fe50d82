"""Family 1 — the reference-faithful retrieval pipeline, Spark-first.

The reference pipeline (SURVEY.md §3.1) is: route -> scan -> sort -> top-k ->
[rerank] -> confidence aggregate -> branch CASE -> envelope. Here the
candidate store is the ``documents`` parquet table (content ↔ documents.text,
SURVEY.md §1.3); scoring is the reference's lexical-overlap rescoring formula
(voyage.py:74: ``min(1.0, base + 0.05 * overlap)``) evaluated entirely
JVM-side; top-k compiles to ``TakeOrderedAndProject`` (no global sort, no
driver collect — at 100 TB the scan is embarrassingly parallel and only k
rows ever leave the executors).

Serving cost: the corpus is session-resident (``recall_corpus``). The
documents are read, partitioned once at build time and tokenized once,
then kept through ``session.materialize_keyed`` under a key that carries
the files' ``(name, size, mtime_ns)`` stamps, so a rewritten table is
rebuilt (and its old entry dropped), never served stale. A request scores
the cached rows with one ``array_intersect`` against its query's tokens.
``build_envelope`` builds its Column lists once per route shape (memo keyed
on the session's applicationId and every shape parameter), so a request
only applies them to its own top-k. The registered R-queries and the MCP
path share these builders.

Determinism: every ordering carries a unique tie-break key (doc_id) so
results are total-ordered and oracle hash-stable (SURVEY.md §7 risk register).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opencode_hive_archon_spark import session
from opencode_hive_archon_spark.config import default_feature_flags, default_provider_status
from opencode_hive_archon_spark.functions.text import norm_tokens, overlap_count, overlap_score
from opencode_hive_archon_spark.plans import branching
from opencode_hive_archon_spark.spec import QuerySpec

# Flagship query terms: drawn from the synthetic documents vocabulary so
# overlap scoring produces a spread of confidences.
DEFAULT_QUERY = "fast hash join table scan merge"
DEFAULT_TOP_K = 5
DEFAULT_THRESHOLD = 0.6
# Base confidence proxy for the document store (the reference's provider
# confidence is mocked upstream; the engine uses a flat prior and lets the
# overlap rescoring differentiate).
BASE_CONFIDENCE = 0.5

# The flagship declared queries run the conversation-mode route, which per
# the routing policy selects mem0 with skip_external_rerank=True (routing.py)
# — so the expected branch on a confident result set is RERANK_BYPASSED.
PROVIDER = "mem0"
RERANK_BYPASSED_FLAG = True

# Supabase's provider-native prior for the external-rerank path: a
# deterministic per-doc score with an exact-binary step (1/16) so the
# Spark-double and DuckDB-decimal literal paths agree bit-for-bit.
SUPA_BASE = 0.5
SUPA_STEP = 0.0625

# Canonical routing-metadata snapshots (R17/R22): sorted-key compact JSON of
# the default config — identical driver-side constant on both engines.
def _snapshot_json(d: dict) -> str:
    return json.dumps(d, sort_keys=True, separators=(",", ":"))


FLAGS_JSON = _snapshot_json(default_feature_flags())
STATUS_JSON = _snapshot_json(default_provider_status())


def recall_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-resident document corpus every recall route scores:
    ``(id, content, source, toks)`` with ``toks = norm_tokens(text)``.

    Read once, partitioned once (round-robin over the default parallelism)
    and tokenized once per session and per version of the table: the key
    carries the files' stamps, so a rewritten ``documents.parquet`` is never
    served stale, and the old version's entry is unpersisted when the new
    one is built. Requests then scan cached rows and intersect token
    arrays; no request reads the parquet or shuffles the documents."""
    path = os.path.abspath(f"{sf_dir}/documents.parquet")
    key = ("recall_corpus", path, session._table_stamp(path))
    session.drop_keyed(spark, key[:2], keep=key)

    def build() -> DataFrame:
        docs = session.read_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        return docs.select(
            F.col("doc_id").alias("id"),
            F.col("text").alias("content"),
            F.col("source"),
            norm_tokens("text").alias("toks"),
        )

    return session.materialize_keyed(spark, key, build)


def scored_candidates(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    base: float = BASE_CONFIDENCE,
) -> DataFrame:
    """corpus -> overlap rescoring against the pre-tokenized documents."""
    return recall_corpus(spark, sf_dir).select(
        "id",
        "content",
        "source",
        overlap_score(query, F.col("toks"), F.lit(float(base))).alias("confidence"),
    )


def recall_score_topk(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """R7+R4+R5: rescore, sort desc, global top-k (voyage.py:67-88,
    memory.py:86-87). Total order via (confidence desc, id asc)."""
    return (
        scored_candidates(spark, sf_dir, query)
        .orderBy(F.col("confidence").desc(), F.col("id").asc())
        .limit(top_k)
    )


def recall_summary_branch(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
    threshold: float = DEFAULT_THRESHOLD,
    provider: str = PROVIDER,
    rerank_bypassed: bool = RERANK_BYPASSED_FLAG,
) -> DataFrame:
    """R12+R13: aggregate the top-k into the confidence summary + branch +
    action row (fallbacks.py:162-199 CASE cascade)."""
    topk = recall_score_topk(spark, sf_dir, query, top_k)
    agg = topk.agg(
        F.coalesce(F.max("confidence"), F.lit(0.0)).alias("top_confidence"),
        F.count(F.lit(1)).alias("candidate_count"),
    )
    branch = branching.branch_col(
        F.col("candidate_count"), F.col("top_confidence"), threshold, rerank_bypassed, provider
    )
    return agg.select(
        F.col("top_confidence"),
        F.col("candidate_count"),
        branch.alias("branch"),
    ).select(
        "top_confidence",
        "candidate_count",
        branching.threshold_met_col(F.col("branch"), F.col("top_confidence"), threshold).alias(
            "threshold_met"
        ),
        "branch",
        branching.action_col(F.col("branch")).alias("action"),
    )


def build_envelope(
    topk: DataFrame,
    *,
    provider: str,
    threshold: float = DEFAULT_THRESHOLD,
    rerank_bypassed: bool = False,
    mode: str = "conversation",
    rerank_policy: str = "provider-native",
    flags_json: str = FLAGS_JSON,
    status_json: str = STATUS_JSON,
    id_quoted: bool = False,
    force_branch: str | None = None,
    validation_mode: bool = False,
) -> DataFrame:
    """Assemble the full RetrievalResponse row from a scored top-k DataFrame.

    Input columns: (id, content, source, confidence[, meta_json]) — at most
    top_k rows, so the collect_list is bounded and scale-safe.

    Serialization (R20, context_packet.py:6-12): candidates carry id,
    content, source, confidence (%.2f) and the open metadata map, in
    declaration order. The canonical JSON assumes sanitized text (the
    synthetic corpus has no quotes/backslashes/control chars — verified);
    a production corpus would add symmetric escaping on both engines.

    Routing metadata (R17, reference agents/recall.py:146-162): mode is
    HARDCODED "conversation" by `_build_routing_metadata` regardless of the
    request — preserved quirk (callers pass the real mode only on the
    none-provider path, which reference builds inline with request.mode).

    ``rerank_policy`` mirrors reference step 3 (agents/recall.py:88-102):
      provider-native -> rerank_type 'provider-native', reason
                         'mem0-default-policy' (skip-external path)
      external        -> rerank_type CASE(count>1 -> 'external', else 'none');
                         bypass reason NULL — the voyage service's own
                         bypass_reason (single_candidate/no_candidates) is
                         DROPPED by _build_routing_metadata, which reads the
                         'rerank_bypass_reason' key the service never sets
                         (preserved quirk)
      disabled        -> rerank_type 'none', reason 'external_rerank_disabled'
                         only when candidates exist (recall.py:100-102)
      none            -> rerank_type 'none', reason NULL (no-provider path)

    ``force_branch`` (R16, agents/recall.py:164-229): validation-mode
    override. LOW_CONFIDENCE rewrites every candidate confidence to 0.4 and
    reports top_confidence 0.4 (the reference passes the constant even for
    empty sets); RERANK_BYPASSED / SUCCESS synthesize a single candidate
    when the real set is empty; EMPTY_SET empties the set (post-aggregation,
    so rerank metadata still reflects the real pre-force candidates).
    """
    has_meta = "meta_json" in topk.columns
    key = (
        topk.sparkSession.sparkContext.applicationId,
        provider, threshold, rerank_bypassed, mode, rerank_policy,
        flags_json, status_json, id_quoted, force_branch, validation_mode, has_meta,
    )
    cols = _ENVELOPE_COLUMNS.get(key)
    if cols is None:
        if len(_ENVELOPE_COLUMNS) >= _ENVELOPE_MEMO_MAX:
            _ENVELOPE_COLUMNS.clear()
        cols = _ENVELOPE_COLUMNS[key] = _envelope_columns(*key[1:])
    agg, staged, out = cols
    return topk.agg(*agg).select(*staged).select(*out)


# Envelope Column lists per route shape, keyed on the session's
# applicationId and every build_envelope parameter: a request rebuilds no
# Column tree, it only applies the three lists to its own top-k. Shapes are
# few (provider x policy x forced branch); the bound only guards callers
# that vary the threshold freely.
_ENVELOPE_COLUMNS: dict[tuple, tuple[list, list, list]] = {}
_ENVELOPE_MEMO_MAX = 256


def _envelope_columns(
    provider, threshold, rerank_bypassed, mode, rerank_policy,
    flags_json, status_json, id_quoted, force_branch, validation_mode, has_meta,
) -> tuple[list, list, list]:
    """The aggregate, staged and output Column lists of ``build_envelope``
    for one route shape."""
    meta = F.col("meta_json") if has_meta else F.lit("{}")
    # LOW_CONFIDENCE rewrites every candidate confidence to 0.4.
    conf = F.lit(0.4) if force_branch == branching.LOW_CONFIDENCE else F.col("confidence")
    id_fmt = '"%s"' if id_quoted else "%d"
    cand_json = F.format_string(
        '{"id":' + id_fmt + ',"content":"%s","source":"%s","confidence":%.2f,"metadata":%s}',
        F.col("id"),
        F.col("content"),
        F.col("source"),
        conf,
        meta,
    )
    # sort_array over (neg-rank keys, json) keeps the serialized order total.
    agg = [
        F.coalesce(F.max(conf), F.lit(0.0)).alias("top_confidence"),
        F.count(F.lit(1)).alias("n_pre"),
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct((-conf).alias("nc"), F.col("id"), cand_json.alias("j")))
                    ),
                    lambda s: s["j"],
                ),
                ",",
            ),
            F.lit("]"),
        ).alias("candidates_json"),
    ]
    # rerank metadata derives from the PRE-force candidate set: the reference
    # computes it in step 3 from the real candidates, before any forced-branch
    # rewrite (including EMPTY_SET truncation), so n_pre here is always the
    # real count — the EMPTY_SET emptying happens post-agg below.
    if rerank_policy == "provider-native":
        rt = F.lit("provider-native")
        bypass = F.lit("mem0-default-policy")
    elif rerank_policy == "external":
        rt = F.when(F.col("n_pre") > 1, F.lit("external")).otherwise(F.lit("none"))
        bypass = F.lit(None).cast("string")
    elif rerank_policy == "disabled":
        rt = F.lit("none")
        bypass = F.when(F.col("n_pre") > 0, F.lit("external_rerank_disabled"))
    else:  # "none" — no provider / empty query
        rt = F.lit("none")
        bypass = F.lit(None).cast("string")
    # Forced-branch candidate synthesis (post-agg CASE on the one-row agg).
    top_c, count_c, json_c = F.col("top_confidence"), F.col("n_pre"), F.col("candidates_json")
    if force_branch in (branching.RERANK_BYPASSED, branching.SUCCESS):
        content = (
            "Forced rerank bypass" if force_branch == branching.RERANK_BYPASSED else "Forced success"
        )
        forced_conf = 0.85 if force_branch == branching.RERANK_BYPASSED else 0.9
        synth = (
            f'[{{"id":"forced","content":"{content}","source":"{provider}",'
            f'"confidence":{forced_conf:.2f},"metadata":{{}}}}]'
        )
        empty = F.col("n_pre") == 0
        top_c = F.when(empty, F.lit(forced_conf)).otherwise(top_c)
        count_c = F.when(empty, F.lit(1).cast("long")).otherwise(count_c)
        json_c = F.when(empty, F.lit(synth)).otherwise(json_c)
    elif force_branch == branching.LOW_CONFIDENCE:
        top_c = F.lit(0.4)  # reference passes the constant, even for count=0
    elif force_branch == branching.EMPTY_SET:
        # Post-agg emptying keeps n_pre (and the step-3 rerank metadata
        # derived from it) computed over the real candidate set.
        top_c, count_c, json_c = F.lit(0.0), F.lit(0).cast("long"), F.lit("[]")
    staged = [
        top_c.alias("top_confidence"),
        count_c.alias("candidate_count"),
        json_c.alias("candidates_json"),
        rt.alias("rerank_type"),
        bypass.alias("rerank_bypass_reason"),
    ]
    # A forced branch stays a Python constant, so the branching columns
    # pick their arm on the driver.
    branch = (
        force_branch
        if force_branch in branching.BRANCH_ACTION
        else branching.branch_col(
            F.col("candidate_count"), F.col("top_confidence"), threshold, rerank_bypassed, provider
        )
    )
    out = [
        F.lit(provider).alias("provider"),
        branching.rerank_applied_col(branch, rerank_bypassed).alias("rerank_applied"),
        "top_confidence",
        "candidate_count",
        branching.threshold_met_col(branch, F.col("top_confidence"), threshold).alias(
            "threshold_met"
        ),
        F.lit(branch).alias("branch"),
        branching.action_col(branch).alias("action"),
        branching.reason_col(
            branch, F.col("candidate_count"), F.col("top_confidence"), threshold
        ).alias("reason"),
        branching.suggestion_col(branch).alias("suggestion"),
        "candidates_json",
        F.lit(mode).alias("mode"),
        F.lit(rerank_bypassed).alias("skip_external_rerank"),
        "rerank_type",
        "rerank_bypass_reason",
        F.lit(flags_json).alias("feature_flags_json"),
        F.lit(status_json).alias("provider_status_json"),
    ]
    if validation_mode:
        out += [
            F.lit(True).alias("validation_mode"),
            F.lit(force_branch).cast("string").alias("forced_branch"),
        ]
    return agg, staged, out


def recall_envelope(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
    threshold: float = DEFAULT_THRESHOLD,
    provider: str = PROVIDER,
    rerank_bypassed: bool = RERANK_BYPASSED_FLAG,
) -> DataFrame:
    """R15+R17+R20: the full RetrievalResponse as one row — ContextPacket
    (candidates with content + metadata, summary), NextAction (action,
    reason, suggestion) and the routing-metadata projection
    (context_packet.py:23-37, agents/recall.py:146-162); timestamp excluded
    by design (SURVEY §2B). Flagship provider-native (mem0) path.

    collect_list only runs AFTER the top-k truncation — at most k rows are
    ever assembled, so this is safe at any scale.
    """
    topk = recall_score_topk(spark, sf_dir, query, top_k)
    return build_envelope(
        topk,
        provider=provider,
        threshold=threshold,
        rerank_bypassed=rerank_bypassed,
        rerank_policy="provider-native",
    )


def recall_compat(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
    threshold: float = DEFAULT_THRESHOLD,
    provider: str = PROVIDER,
    rerank_bypassed: bool = RERANK_BYPASSED_FLAG,
) -> DataFrame:
    """R20 legacy-compat projection (reference schemas.py:25-57): the
    canonical nested envelope — context_packet {candidates, summary,
    provider, rerank_applied} and next_action {action, reason, branch_code,
    suggestion} as JSON — PLUS the flat top-level duplicates
    (candidates / branch / confidence) the MCPCompatibilityResponse emits
    additively for legacy callers, and the routing_metadata dict.
    Timestamp excluded by design (SURVEY §2B)."""
    env = recall_envelope(
        spark, sf_dir, query, top_k, threshold, provider, rerank_bypassed
    )
    cp = F.format_string(
        '{"candidates":%s,"summary":{"top_confidence":%.2f,"candidate_count":%d,'
        '"threshold_met":%s,"branch":"%s"},"provider":"%s","rerank_applied":%s}',
        F.col("candidates_json"), F.col("top_confidence"), F.col("candidate_count"),
        F.col("threshold_met"), F.col("branch"), F.col("provider"),
        F.col("rerank_applied"),
    )
    sugg = F.when(F.col("suggestion").isNull(), F.lit("null")).otherwise(
        F.format_string('"%s"', F.col("suggestion"))
    )
    na = F.format_string(
        '{"action":"%s","reason":"%s","branch_code":"%s","suggestion":%s}',
        F.col("action"), F.col("reason"), F.col("branch"), sugg,
    )
    bypass = F.when(F.col("rerank_bypass_reason").isNull(), F.lit("null")).otherwise(
        F.format_string('"%s"', F.col("rerank_bypass_reason"))
    )
    rm = F.format_string(
        '{"selected_provider":"%s","mode":"%s","skip_external_rerank":%s,'
        '"rerank_type":"%s","rerank_bypass_reason":%s,'
        '"feature_flags_snapshot":%s,"provider_status_snapshot":%s}',
        F.col("provider"), F.col("mode"), F.col("skip_external_rerank"),
        F.col("rerank_type"), bypass,
        F.col("feature_flags_json"), F.col("provider_status_json"),
    )
    return env.select(
        cp.alias("context_packet_json"),
        na.alias("next_action_json"),
        F.col("candidates_json").alias("candidates"),
        F.col("branch"),
        F.col("top_confidence").alias("confidence"),
        rm.alias("routing_metadata_json"),
    )


def supabase_native_candidates(
    spark: SparkSession, sf_dir: str, query: str = DEFAULT_QUERY
) -> DataFrame:
    """Provider-native candidates for the supabase route: the provider
    returns its own relevance score (modeled as a deterministic per-doc
    prior with an exact-binary step) — the EXTERNAL rerank stage is what
    injects query relevance on this path (reference memory.py returns
    provider confidences untouched when rerank=True is mem0-only)."""
    native = F.lit(SUPA_BASE) + (F.col("id") % 5).cast("double") * F.lit(SUPA_STEP)
    return recall_corpus(spark, sf_dir).select(
        "id", "content", "source", native.alias("confidence")
    )


def external_rerank_stage(topk: DataFrame, query: str, top_k: int) -> DataFrame:
    """The VoyageRerankService as a distinct, elidable plan stage
    (voyage.py:54-88): adjusted = min(1.0, native + 0.05 * overlap), re-sort
    desc, re-truncate to top_k, and stamp rerank_adjusted into each
    candidate's metadata. The 0/1-candidate bypass (voyage.py:36-45) is a
    data-dependent branch, so it is compiled into the plan as a CASE on the
    candidate count, a window count over the (at most k) top-k rows, so
    the top-k is evaluated once and never leaves the JVM. The window is
    partitioned by ``spark_partition_id()``: a top-k is one partition, so
    that counts every candidate and plans no exchange, where an empty or
    constant partition spec would be planned as a move to one partition
    (and logged as such on every request).

    Tie-break: the reference's stable sort preserves provider order on equal
    adjusted scores; the engine total-orders by (confidence desc, id asc) —
    deterministic on both engines, mirrored in the oracle."""
    adj = F.least(
        F.lit(1.0),
        F.col("confidence") + F.lit(0.05) * overlap_count(query, F.col("content")),
    )
    applies = F.count(F.lit(1)).over(Window.partitionBy(F.spark_partition_id())) > 1
    return (
        topk.select(
            "id",
            "content",
            "source",
            F.when(applies, adj).otherwise(F.col("confidence")).alias("confidence"),
            F.when(applies, F.lit('{"rerank_adjusted":true}'))
            .otherwise(F.lit("{}"))
            .alias("meta_json"),
        )
        .orderBy(F.col("confidence").desc(), F.col("id").asc())
        .limit(top_k)
    )


def recall_envelope_reranked(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """The external-rerank route end to end (R8/R17 external path): supabase
    provider-native top-k -> VoyageRerankService stage -> envelope. The
    conversation route reaches this when mem0 is unavailable
    (retrieval_router.py:33-38); branch is SUCCESS (non-mem0), rerank_type
    'external', rerank_applied reports the bypass flag verbatim (false —
    preserved reference quirk, fallbacks.py:198)."""
    native_topk = (
        supabase_native_candidates(spark, sf_dir, query)
        .orderBy(F.col("confidence").desc(), F.col("id").asc())
        .limit(top_k)
    )
    reranked = external_rerank_stage(native_topk, query, top_k)
    return build_envelope(
        reranked,
        provider="supabase",
        threshold=threshold,
        rerank_bypassed=False,
        rerank_policy="external",
    )


def recall_multi_provider_merge(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """The multi-provider merge the reference DECLARES but simplifies to
    "first available" (retrieval_router.py:48; product plan names a real
    multi-store merge + rerank — SURVEY.md §2A negative findings).

    Engine version, done properly: two provider views over the document
    store (hash-partitioned by doc_id parity, standing in for mem0 /
    supabase), each scored with its own base prior; merged by id keeping
    the best-scoring hit (dedupe across stores), then the external rerank
    adjustment and global top-k. ONE scan: the per-provider memberships are
    emitted as an exploded conditional array, so the (expensive) overlap
    rescoring evaluates once per document instead of once per provider
    view; one groupBy shuffle merges.
    """
    scored = scored_candidates(spark, sf_dir, query)
    hit_t = "struct<provider:string,confidence:double>"
    provs = F.array(
        F.when(
            F.col("id") % 2 == 0,
            F.struct(F.lit("mem0").alias("provider"), F.col("confidence").alias("confidence")),
        ).cast(hit_t),
        F.when(
            F.col("id") % 3 == 0,
            F.struct(
                F.lit("supabase").alias("provider"),
                # provider-specific prior: supabase hits score slightly lower
                F.greatest(F.lit(0.0), F.col("confidence") - F.lit(0.05)).alias("confidence"),
            ),
        ).cast(hit_t),
    )
    merged = (
        scored.select("id", F.explode(provs).alias("hit"))
        .filter(F.col("hit").isNotNull())
        .select("id", F.col("hit.provider").alias("provider"), F.col("hit.confidence").alias("confidence"))
        .groupBy("id")
        .agg(
            F.max(F.struct("confidence", "provider")).alias("best"),
            F.count(F.lit(1)).alias("n_providers"),
        )
        .select(
            "id",
            F.col("best.provider").alias("provider"),
            F.col("best.confidence").alias("confidence"),
            "n_providers",
        )
    )
    return merged.orderBy(F.col("confidence").desc(), F.col("id").asc()).limit(top_k)


# --- 5-criteria weighted rerank over the merged provider set ---------------
#
# The reference PLANS these rerank criteria but never builds them
# (requests/ultima-second-brain-hybrid-retrieval-plan #1.md:196-202):
#   - Confidence weight (LOW/MEDIUM/HIGH mapped numerically)
#   - Recency weight
#   - Query relevance weight
#   - Channel fit weight ("channel fit" — data-derived per the plan)
#   - Proven success signal weight ("where data exists")
# The engine delivers them as a deterministic scoring layer over the
# multi-provider merge. Channel and success come from DATA (VERDICT r13
# #4): a document's channel is its source's dominant engagement mode in
# the events log (events.props.k -> doc join), and the success signal is
# the document's own purchase-share band — sparse, because only docs the
# events log references carry data. Feature values are exact-binary
# floats (0.25/0.5/1.0 bands, /4 and /8 divisions) or one double division
# of exact ints (recency); banding uses integer comparisons
# (2*n_purchase >= n_events), and the weighted sum is ONE fixed-order
# IEEE expression mirrored literally in the oracle — so the rerank stays
# hash-verified end-to-end even with joined features.

MP_RERANK_TOP_K = 20
_MP_W = (0.30, 0.15, 0.30, 0.15, 0.10)  # conf, recency, relevance, fit, success


def recall_multi_provider_rerank(
    spark: SparkSession,
    sf_dir: str,
    query: str = DEFAULT_QUERY,
    top_k: int = MP_RERANK_TOP_K,
) -> DataFrame:
    """Multi-provider merge -> 5-criteria weighted rerank (the reference's
    planned-but-unbuilt reranking layer, plan #1.md:196-202):

      conf_score   LOW/MEDIUM/HIGH band of the merged confidence -> 0.25/
                   0.5/1.0 (the numeric mapping the plan names)
      recency      doc_id / max(doc_id) (ingest-order proxy, one division)
      relevance    min(1.0, overlap_count / 8) lexical query overlap
      channel_fit  DATA-DERIVED channel (plan: "channel fit"): a source's
                   channel is its dominant engagement mode in the events
                   log (props.k references the doc; ties -> max count,
                   then event_type desc) — purchase/signup-heavy sources
                   read as linkedin, click-heavy as blog, view/error as
                   youtube; fit band for the 'blog' target channel
      success      DATA-DERIVED proven-success signal (plan: "where data
                   exists"): the doc's own purchase share over its events,
                   banded by integer comparison (>=1/2 -> 1.0, >=1/4 ->
                   0.5, else 0.25); docs the events log never references
                   have NO data -> NULL -> neutral 0 in the weighted sum

    Scale: the feature projection is mapper-side over the merged set plus
    two bounded joins — the per-doc success table (|distinct props.k|
    rows, equi-join on id) and the per-source channel table (|sources|
    rows, broadcast) — a 1-row max-id broadcast, and the global top-k
    (TakeOrderedAndProject)."""
    scored = scored_candidates(spark, sf_dir, query)
    hit_t = "struct<provider:string,confidence:double>"
    provs = F.array(
        F.when(
            F.col("id") % 2 == 0,
            F.struct(F.lit("mem0").alias("provider"), F.col("confidence").alias("confidence")),
        ).cast(hit_t),
        F.when(
            F.col("id") % 3 == 0,
            F.struct(
                F.lit("supabase").alias("provider"),
                F.greatest(F.lit(0.0), F.col("confidence") - F.lit(0.05)).alias("confidence"),
            ),
        ).cast(hit_t),
    )
    merged = (
        scored.select("id", "content", "source", F.explode(provs).alias("hit"))
        .filter(F.col("hit").isNotNull())
        .select("id", "content", "source", F.col("hit.provider").alias("provider"),
                F.col("hit.confidence").alias("confidence"))
        .groupBy("id")
        .agg(
            F.max(F.struct("confidence", "provider")).alias("best"),
            F.count(F.lit(1)).alias("n_providers"),
            F.first("content").alias("content"),
            F.first("source").alias("source"),
        )
        .select(
            "id",
            F.col("best.provider").alias("provider"),
            F.col("best.confidence").alias("confidence"),
            "n_providers", "content", "source",
        )
    )
    mx = scored.agg(F.max("id").alias("max_id"))
    # events log: props.k references the document a user interaction was
    # about — the engagement ground truth both data-derived criteria read
    ev = (
        session.read_table(spark, sf_dir, "events")
        .select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "event_type",
        )
        .filter(F.col("k").isNotNull())
    )
    # per-doc proven-success: purchase share banded by INTEGER comparison
    # (exact on both engines); docs never referenced -> absent -> NULL
    doc_success = (
        ev.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchase"),
        )
        .select(
            F.col("k").alias("id"),
            F.when(F.col("n_purchase") * 2 >= F.col("n_events"), F.lit(1.0))
            .when(F.col("n_purchase") * 4 >= F.col("n_events"), F.lit(0.5))
            .otherwise(F.lit(0.25))
            .alias("success_signal"),
        )
    )
    # per-source channel: dominant engagement mode across the source's
    # docs (ties -> max count then event_type desc, same on both engines)
    src_channel = (
        scored.select("id", "source")
        .join(ev, scored["id"] == ev["k"])
        .groupBy("source", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.max(F.struct("cnt", "event_type")).alias("top"))
        .select(
            "source",
            F.when(
                F.col("top.event_type").isin("purchase", "signup"),
                F.lit("linkedin"),
            )
            .when(F.col("top.event_type") == "click", F.lit("blog"))
            .otherwise(F.lit("youtube"))
            .alias("channel"),
        )
    )
    conf_band = (
        F.when(F.col("confidence") >= 0.8, F.lit("HIGH"))
        .when(F.col("confidence") >= 0.6, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
    )
    conf_score = (
        F.when(F.col("conf_band") == "HIGH", F.lit(1.0))
        .when(F.col("conf_band") == "MEDIUM", F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    recency = F.col("id").cast("double") / F.col("max_id").cast("double")
    relevance = F.least(
        F.lit(1.0),
        overlap_count(query, F.col("content")).cast("double") / F.lit(8.0),
    )
    fit = (
        F.when(F.col("channel") == "blog", F.lit(1.0))
        .when(F.col("channel") == "linkedin", F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    w = _MP_W
    score = (
        F.lit(w[0]) * F.col("conf_score")
        + F.lit(w[1]) * F.col("recency_score")
        + F.lit(w[2]) * F.col("relevance_score")
        + F.lit(w[3]) * F.col("channel_fit")
        + F.lit(w[4]) * F.coalesce(F.col("success_signal"), F.lit(0.0))
    )
    feat = (
        merged.crossJoin(F.broadcast(mx))
        .join(doc_success, "id", "left")
        .join(F.broadcast(src_channel), "source", "left")
        .withColumn("channel", F.coalesce(F.col("channel"), F.lit("unknown")))
        .withColumn("conf_band", conf_band)
        .withColumn("conf_score", conf_score)
        .withColumn("recency_score", recency)
        .withColumn("relevance_score", relevance)
        .withColumn("channel_fit", fit)
        .withColumn("rerank_score", score)
    )
    return (
        feat.select(
            "id", "provider", "n_providers", "conf_band", "conf_score",
            "recency_score", "relevance_score", "channel", "channel_fit",
            "success_signal", "rerank_score",
        )
        .orderBy(F.col("rerank_score").desc(), F.col("id").asc())
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# DuckDB oracles. The scoring CTE mirrors functions/text.py token-for-token:
# whitespace-normalize -> lower -> split on single space -> distinct ->
# intersect -> min(1.0, 0.5 + 0.05*overlap), all in DOUBLE.
# ---------------------------------------------------------------------------

_SCORED_CTE = f"""
scored AS (
  SELECT doc_id AS id, text AS content, source,
         least(1.0, 0.5 + 0.05 * len(list_intersect(
             list_distinct(string_split(regexp_replace(trim(lower('{DEFAULT_QUERY}')), '\\s+', ' ', 'g'), ' ')),
             list_distinct(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))
         ))) AS confidence
  FROM documents
),
topk AS (
  SELECT * FROM scored ORDER BY confidence DESC, id ASC LIMIT {DEFAULT_TOP_K}
)
"""

_ORACLE_SCORE_TOPK = f"""
WITH {_SCORED_CTE}
SELECT id, content, source, confidence FROM topk
"""

# Branch CASE constants for the flagship route: provider='mem0',
# rerank_bypassed=true, threshold=0.6 (conversation-mode route).
_BRANCH_CASE = f"""
CASE WHEN candidate_count = 0 THEN 'EMPTY_SET'
     WHEN top_confidence < {DEFAULT_THRESHOLD} THEN 'LOW_CONFIDENCE'
     WHEN {str(RERANK_BYPASSED_FLAG).lower()} AND '{PROVIDER}' = 'mem0' THEN 'RERANK_BYPASSED'
     ELSE 'SUCCESS' END
"""

_ORACLE_SUMMARY_BRANCH = f"""
WITH {_SCORED_CTE},
agg AS (
  SELECT coalesce(max(confidence), 0.0) AS top_confidence,
         count(*) AS candidate_count
  FROM topk
),
classified AS (
  SELECT top_confidence, candidate_count, {_BRANCH_CASE} AS branch FROM agg
)
SELECT top_confidence, candidate_count,
       CASE WHEN branch IN ('EMPTY_SET','LOW_CONFIDENCE','CHANNEL_MISMATCH') THEN false
            WHEN branch = 'RERANK_BYPASSED' THEN top_confidence >= 0.6
            ELSE true END AS threshold_met,
       branch,
       CASE branch WHEN 'EMPTY_SET' THEN 'fallback'
                   WHEN 'LOW_CONFIDENCE' THEN 'clarify'
                   WHEN 'CHANNEL_MISMATCH' THEN 'escalate'
                   ELSE 'proceed' END AS action
FROM classified
"""

# Shared envelope projection fragments (used by both envelope oracles).
_SUGGESTION_CASE = """
CASE branch WHEN 'EMPTY_SET' THEN 'Ask user to rephrase query or provide more context'
            WHEN 'LOW_CONFIDENCE' THEN 'Request clarification on query intent or narrow scope'
            WHEN 'CHANNEL_MISMATCH' THEN 'Escalate to human or trigger intent reclassification'
            ELSE NULL END
"""
_THRESHOLD_MET_CASE = """
CASE WHEN branch IN ('EMPTY_SET','LOW_CONFIDENCE','CHANNEL_MISMATCH') THEN false
     WHEN branch = 'RERANK_BYPASSED' THEN top_confidence >= 0.6
     ELSE true END
"""
_ACTION_CASE = """
CASE branch WHEN 'EMPTY_SET' THEN 'fallback'
            WHEN 'LOW_CONFIDENCE' THEN 'clarify'
            WHEN 'CHANNEL_MISMATCH' THEN 'escalate'
            ELSE 'proceed' END
"""


def _reason_case(threshold: float) -> str:
    return f"""
CASE branch
     WHEN 'EMPTY_SET' THEN 'No context candidates retrieved from any provider'
     WHEN 'LOW_CONFIDENCE' THEN printf('Top confidence %.2f below threshold %.2f', top_confidence, {threshold})
     WHEN 'RERANK_BYPASSED' THEN 'Provider-native rerank applied, external rerank bypassed per policy'
     ELSE printf('Retrieved %d high-confidence candidates', candidate_count) END
"""


_CAND_JSON_SQL = (
    """'[' || coalesce(string_agg(
        printf('{"id":%d,"content":"%s","source":"%s","confidence":%.2f,"metadata":%s}',
               id, content, source, confidence, meta),
        ',' ORDER BY confidence DESC, id ASC), '') || ']'"""
)

_ORACLE_ENVELOPE = f"""
WITH {_SCORED_CTE},
agg AS (
  SELECT coalesce(max(confidence), 0.0) AS top_confidence,
         count(*) AS candidate_count,
         {_CAND_JSON_SQL} AS candidates_json
  FROM (SELECT *, '{{}}' AS meta FROM topk)
),
classified AS (
  SELECT *, {_BRANCH_CASE} AS branch FROM agg
)
SELECT '{PROVIDER}' AS provider,
       CASE WHEN branch IN ('EMPTY_SET','LOW_CONFIDENCE','CHANNEL_MISMATCH') THEN false
            WHEN branch = 'RERANK_BYPASSED' THEN true
            ELSE {str(RERANK_BYPASSED_FLAG).lower()} END AS rerank_applied,
       top_confidence, candidate_count,
       {_THRESHOLD_MET_CASE} AS threshold_met,
       branch,
       {_ACTION_CASE} AS action,
       {_reason_case(DEFAULT_THRESHOLD)} AS reason,
       {_SUGGESTION_CASE} AS suggestion,
       candidates_json,
       'conversation' AS mode,
       {str(RERANK_BYPASSED_FLAG).lower()} AS skip_external_rerank,
       'provider-native' AS rerank_type,
       'mem0-default-policy' AS rerank_bypass_reason,
       '{FLAGS_JSON}' AS feature_flags_json,
       '{STATUS_JSON}' AS provider_status_json
FROM classified
"""

# The external-rerank route: supabase native prior (exact-binary step) ->
# voyage rerank stage (explicit DOUBLE casts force the same IEEE op sequence
# Spark executes) -> envelope. The branch cascade here never selects
# RERANK_BYPASSED (provider != mem0, bypass flag false).
_QTOK_SQL = (
    f"list_distinct(string_split(regexp_replace(trim(lower('{DEFAULT_QUERY}')), '\\s+', ' ', 'g'), ' '))"
)
_ORACLE_ENVELOPE_RERANKED = f"""
WITH native AS (
  SELECT doc_id AS id, text AS content, source,
         CAST({SUPA_BASE} AS DOUBLE) + CAST(doc_id % 5 AS DOUBLE) * CAST({SUPA_STEP} AS DOUBLE) AS confidence
  FROM documents
),
ntopk AS (SELECT * FROM native ORDER BY confidence DESC, id ASC LIMIT {DEFAULT_TOP_K}),
ncount AS (SELECT count(*) AS n_cand FROM ntopk),
rer AS (
  SELECT id, content, source,
         CASE WHEN n_cand > 1
              THEN least(CAST(1.0 AS DOUBLE),
                         confidence + CAST(0.05 AS DOUBLE) * len(list_intersect(
                             {_QTOK_SQL},
                             list_distinct(string_split(regexp_replace(trim(lower(content)), '\\s+', ' ', 'g'), ' '))
                         )))
              ELSE confidence END AS confidence,
         CASE WHEN n_cand > 1 THEN '{{"rerank_adjusted":true}}' ELSE '{{}}' END AS meta,
         n_cand
  FROM ntopk, ncount
),
rtopk AS (SELECT * FROM rer ORDER BY confidence DESC, id ASC LIMIT {DEFAULT_TOP_K}),
agg AS (
  SELECT coalesce(max(confidence), 0.0) AS top_confidence,
         count(*) AS candidate_count,
         coalesce(max(n_cand), 0) AS n_pre,
         {_CAND_JSON_SQL} AS candidates_json
  FROM rtopk
),
classified AS (
  SELECT *,
         CASE WHEN candidate_count = 0 THEN 'EMPTY_SET'
              WHEN top_confidence < {DEFAULT_THRESHOLD} THEN 'LOW_CONFIDENCE'
              ELSE 'SUCCESS' END AS branch
  FROM agg
)
SELECT 'supabase' AS provider,
       CASE WHEN branch IN ('EMPTY_SET','LOW_CONFIDENCE','CHANNEL_MISMATCH') THEN false
            WHEN branch = 'RERANK_BYPASSED' THEN true
            ELSE false END AS rerank_applied,
       top_confidence, candidate_count,
       {_THRESHOLD_MET_CASE} AS threshold_met,
       branch,
       {_ACTION_CASE} AS action,
       {_reason_case(DEFAULT_THRESHOLD)} AS reason,
       {_SUGGESTION_CASE} AS suggestion,
       candidates_json,
       'conversation' AS mode,
       false AS skip_external_rerank,
       CASE WHEN n_pre > 1 THEN 'external' ELSE 'none' END AS rerank_type,
       CAST(NULL AS VARCHAR) AS rerank_bypass_reason,
       '{FLAGS_JSON}' AS feature_flags_json,
       '{STATUS_JSON}' AS provider_status_json
FROM classified
"""

_ORACLE_COMPAT = f"""
SELECT printf('{{"candidates":%s,"summary":{{"top_confidence":%.2f,"candidate_count":%d,"threshold_met":%s,"branch":"%s"}},"provider":"%s","rerank_applied":%s}}',
              candidates_json, top_confidence, candidate_count,
              CASE WHEN threshold_met THEN 'true' ELSE 'false' END,
              branch, provider,
              CASE WHEN rerank_applied THEN 'true' ELSE 'false' END) AS context_packet_json,
       printf('{{"action":"%s","reason":"%s","branch_code":"%s","suggestion":%s}}',
              action, reason, branch,
              CASE WHEN suggestion IS NULL THEN 'null' ELSE '"' || suggestion || '"' END) AS next_action_json,
       candidates_json AS candidates,
       branch,
       top_confidence AS confidence,
       printf('{{"selected_provider":"%s","mode":"%s","skip_external_rerank":%s,"rerank_type":"%s","rerank_bypass_reason":%s,"feature_flags_snapshot":%s,"provider_status_snapshot":%s}}',
              provider, mode,
              CASE WHEN skip_external_rerank THEN 'true' ELSE 'false' END,
              rerank_type,
              CASE WHEN rerank_bypass_reason IS NULL THEN 'null' ELSE '"' || rerank_bypass_reason || '"' END,
              feature_flags_json, provider_status_json) AS routing_metadata_json
FROM ({_ORACLE_ENVELOPE}) env
"""

_ORACLE_MULTI_MERGE = f"""
WITH {_SCORED_CTE},
mem0 AS (
  SELECT id, confidence, 'mem0' AS provider FROM scored WHERE id % 2 = 0
),
supa AS (
  SELECT id, greatest(0.0, confidence - 0.05) AS confidence, 'supabase' AS provider
  FROM scored WHERE id % 3 = 0
),
unioned AS (SELECT * FROM mem0 UNION ALL SELECT * FROM supa),
merged AS (
  SELECT id, provider, confidence,
         count(*) OVER (PARTITION BY id) AS n_providers,
         row_number() OVER (PARTITION BY id ORDER BY confidence DESC, provider DESC) AS rn
  FROM unioned
)
SELECT id, provider, confidence, n_providers
FROM merged WHERE rn = 1
ORDER BY confidence DESC, id ASC LIMIT {DEFAULT_TOP_K}
"""

_CTOK_SQL = (
    "list_distinct(string_split(regexp_replace(trim(lower(content)), "
    "'\\s+', ' ', 'g'), ' '))"
)

# Exact mirror of the 5-criteria rerank: same merged set, same band maps
# (exact-binary 0.25/0.5/1.0), same events-derived channel/success joins
# (integer-comparison banding, identical tie-breaks), and the weighted
# sum written in the IDENTICAL left-associated IEEE order.
_ORACLE_MULTI_RERANK = f"""
WITH {_SCORED_CTE},
mem0 AS (
  SELECT id, content, source, confidence, 'mem0' AS provider
  FROM scored WHERE id % 2 = 0
),
supa AS (
  SELECT id, content, source, greatest(0.0, confidence - 0.05) AS confidence,
         'supabase' AS provider
  FROM scored WHERE id % 3 = 0
),
unioned AS (SELECT * FROM mem0 UNION ALL SELECT * FROM supa),
merged AS (
  SELECT id, content, source, confidence, provider,
         count(*) OVER (PARTITION BY id) AS n_providers,
         row_number() OVER (PARTITION BY id
                            ORDER BY confidence DESC, provider DESC) AS rn
  FROM unioned
),
mx AS (SELECT max(id) AS max_id FROM scored),
ev AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
),
succ AS (
  SELECT k AS id,
         CASE WHEN 2 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= count(*) THEN CAST(1.0 AS DOUBLE)
              WHEN 4 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= count(*) THEN CAST(0.5 AS DOUBLE)
              ELSE CAST(0.25 AS DOUBLE) END AS success_signal
  FROM ev GROUP BY k
),
smix AS (
  SELECT s.source, e.event_type, count(*) AS cnt
  FROM scored s JOIN ev e ON e.k = s.id
  GROUP BY s.source, e.event_type
),
schan AS (
  SELECT source,
         CASE WHEN et IN ('purchase', 'signup') THEN 'linkedin'
              WHEN et = 'click' THEN 'blog'
              ELSE 'youtube' END AS channel
  FROM (
    SELECT source, event_type AS et,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, event_type DESC) AS rn
    FROM smix
  ) WHERE rn = 1
),
feat0 AS (
  SELECT m.id, m.provider, m.n_providers, m.content, m.source,
         m.confidence, mx.max_id
  FROM merged m, mx WHERE m.rn = 1
),
feat1 AS (
  SELECT f.id, f.provider, f.n_providers,
         CASE WHEN confidence >= 0.8 THEN 'HIGH'
              WHEN confidence >= 0.6 THEN 'MEDIUM' ELSE 'LOW' END AS conf_band,
         CAST(f.id AS DOUBLE) / CAST(max_id AS DOUBLE) AS recency_score,
         least(CAST(1.0 AS DOUBLE),
               CAST(len(list_intersect({_QTOK_SQL}, {_CTOK_SQL})) AS DOUBLE)
               / CAST(8.0 AS DOUBLE)) AS relevance_score,
         coalesce(sc.channel, 'unknown') AS channel,
         su.success_signal
  FROM feat0 f
  LEFT JOIN succ su ON su.id = f.id
  LEFT JOIN schan sc ON sc.source = f.source
),
feat2 AS (
  SELECT *,
         CASE conf_band WHEN 'HIGH' THEN CAST(1.0 AS DOUBLE)
              WHEN 'MEDIUM' THEN CAST(0.5 AS DOUBLE)
              ELSE CAST(0.25 AS DOUBLE) END AS conf_score,
         CASE channel WHEN 'blog' THEN CAST(1.0 AS DOUBLE)
              WHEN 'linkedin' THEN CAST(0.5 AS DOUBLE)
              ELSE CAST(0.25 AS DOUBLE) END AS channel_fit
  FROM feat1
)
SELECT id, provider, n_providers, conf_band, conf_score, recency_score,
       relevance_score, channel, channel_fit, success_signal,
       CAST({_MP_W[0]} AS DOUBLE) * conf_score
       + CAST({_MP_W[1]} AS DOUBLE) * recency_score
       + CAST({_MP_W[2]} AS DOUBLE) * relevance_score
       + CAST({_MP_W[3]} AS DOUBLE) * channel_fit
       + CAST({_MP_W[4]} AS DOUBLE) * coalesce(success_signal,
                                               CAST(0.0 AS DOUBLE))
         AS rerank_score
FROM feat2
ORDER BY rerank_score DESC, id ASC LIMIT {MP_RERANK_TOP_K}
"""

SPECS = [
    QuerySpec(
        name="recall_multi_provider_merge",
        fn=recall_multi_provider_merge,
        oracle=_ORACLE_MULTI_MERGE,
        family="retrieval",
        description="real multi-store merge + dedupe + top-k (reference declares, engine delivers)",
    ),
    QuerySpec(
        name="recall_multi_provider_rerank",
        fn=recall_multi_provider_rerank,
        oracle=_ORACLE_MULTI_RERANK,
        family="retrieval",
        description="5-criteria weighted rerank over the merged provider set "
        "(confidence band / recency / query relevance / channel fit / sparse "
        "success signal — the reference's planned-but-unbuilt reranking "
        "layer, plan #1.md:196-202), hash-exact feature algebra",
    ),
    QuerySpec(
        name="recall_score_topk",
        fn=recall_score_topk,
        oracle=_ORACLE_SCORE_TOPK,
        family="retrieval",
        description="lexical-overlap rescoring + global top-k (R4,R5,R7)",
    ),
    QuerySpec(
        name="recall_summary_branch",
        fn=recall_summary_branch,
        oracle=_ORACLE_SUMMARY_BRANCH,
        family="retrieval",
        description="confidence aggregate + branch CASE cascade (R12,R13)",
    ),
    QuerySpec(
        name="recall_envelope",
        fn=recall_envelope,
        oracle=_ORACLE_ENVELOPE,
        family="retrieval",
        description="full RetrievalResponse envelope: candidates with content+metadata, "
        "NextAction incl. suggestion, routing-metadata projection (R15,R17,R20)",
    ),
    QuerySpec(
        name="recall_compat",
        fn=recall_compat,
        oracle=_ORACLE_COMPAT,
        family="retrieval",
        description="R20 MCP legacy-compat projection: nested context_packet + "
        "next_action JSON plus flat candidates/branch/confidence duplicates",
    ),
    QuerySpec(
        name="recall_envelope_reranked",
        fn=recall_envelope_reranked,
        oracle=_ORACLE_ENVELOPE_RERANKED,
        family="retrieval",
        description="external-rerank route: supabase native top-k -> voyage rerank stage "
        "-> envelope with rerank_adjusted metadata (R8 external path)",
    ),
]
