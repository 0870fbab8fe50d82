"""The three workloads. Each drives the engine only through its public entry
points and keeps what the untimed checks need.

A workload has ``setup`` (untimed; counted in ``setup_s``), ``units``
(the closed loop runs whole units: one request, one Delta cycle, one
query pass), ``check`` (untimed, after the window) and ``trace_layers``
(per-layer detail for ``--trace 1``).
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

from perfbench import datagen
from statistics import median

from perfbench.harness import pct_summary, result_digest

# Tables: scale 1.0 is sf0.1, 0.1 is sf0.01.
RECALL_SCALE = 1.0
BATCH_SCALE = 0.1

# Registered queries of the batch workload, one or two per layer: LLM-data
# operators (exact dedup; embedding near-dup with the session-keyed LSH cache
# and the Arrow cosine kernel; text quality), a relational scan, a TPC-H
# star join with broadcast builds, and a stateful stream.
BATCH_QUERIES = [
    "dedup_exact",
    "dedup_embedding_cosine",
    "text_quality_score",
    "scan_project_filter",
    "q8_market_share",
    "stream_tumbling_counts",
]


class Op:
    """One timed operation: ``run()`` returns what the checks need."""

    __slots__ = ("kind", "label", "run", "cls")

    def __init__(self, kind: str, label: str, run, cls: str = "op"):
        self.kind, self.label, self.run, self.cls = kind, label, run, cls


def _duckdb(data_dir: str):
    import duckdb

    from opencode_hive_archon_spark.session import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------------------
# recall_serve
# ---------------------------------------------------------------------------

# Candidate scores on the two routes, in DOUBLE with the engine's operation
# order (functions/text.py overlap_score; operators/recall.py
# external_rerank_stage): whitespace-normalize, lower, split, distinct,
# intersect.
_TOKENS = "list_distinct(string_split(regexp_replace(trim(lower({x})), '\\s+', ' ', 'g'), ' '))"
_OVERLAP = "len(list_intersect(" + _TOKENS.format(x="$q") + ", " + _TOKENS.format(x="text") + "))"
_MEM0_TOPK = f"""
SELECT doc_id FROM (
  SELECT doc_id, least(1.0::DOUBLE, 0.5::DOUBLE + 0.05::DOUBLE * {_OVERLAP}) AS c FROM documents)
ORDER BY c DESC, doc_id ASC LIMIT $k
"""
_MEM0_SCORES = f"""
SELECT doc_id, least(1.0::DOUBLE, 0.5::DOUBLE + 0.05::DOUBLE * {_OVERLAP}) AS c
FROM documents WHERE doc_id IN (SELECT unnest($ids))
"""
_SUPABASE_TOPK = f"""
WITH native AS (
  SELECT doc_id, text, 0.5::DOUBLE + (doc_id % 5)::DOUBLE * 0.0625::DOUBLE AS c
  FROM documents ORDER BY c DESC, doc_id ASC LIMIT $k),
n AS (SELECT count(*) AS n FROM native)
SELECT doc_id, CASE WHEN n > 1 THEN least(1.0::DOUBLE, c + 0.05::DOUBLE * {_OVERLAP}) ELSE c END AS c2
FROM native, n ORDER BY c2 DESC, doc_id ASC LIMIT $k
"""


def _fmt2(x: float) -> str:
    """The engine's ``%.2f``: half-up on the shortest decimal form."""
    return str(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


class RecallServe:
    # Fixed warm-up requests, the same in every run, covering all three
    # request shapes.
    WARMUP = [
        {"op": "recall_search", "query": "fast hash join", "mode": "conversation",
         "top_k": 5, "provider_override": None},
        {"op": "recall_search", "query": "table scan", "mode": "fast",
         "top_k": 3, "provider_override": "supabase"},
        {"op": "validate_branch", "scenario_id": "S001"},
    ]

    def __init__(self, spark, data_dir: str, seed: int):
        from opencode_hive_archon_spark.mcp import MCPServer

        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.server = MCPServer(spark, data_dir)
        self.seen: dict[tuple, list] = {}
        self.validations: list[dict] = []

    def setup(self) -> None:
        for req in self.WARMUP:
            self._call(req)()

    def _call(self, req: dict):
        def run():
            if req["op"] == "validate_branch":
                res = self.server.validate_branch(req["scenario_id"])
                self.validations.append(res)
                return res
            res = self.server.recall_search(
                req["query"], mode=req["mode"], top_k=req["top_k"],
                provider_override=req["provider_override"],
            )
            key = (req["query"], req["top_k"], res["routing_metadata"]["selected_provider"],
                   req["provider_override"])
            cands = [(c["id"], c["confidence"]) for c in res["candidates"]]
            self.seen.setdefault(key, []).append(cands)
            return res
        return run

    def units(self):
        """Whole blocks of requests, so every window has the same mix."""
        reqs = datagen.recall_requests(self.seed)
        while True:
            block = [next(reqs) for _ in range(datagen.RECALL_BLOCK)]
            yield [Op(r["op"], r.get("query", r.get("scenario_id")), self._call(r), cls="request")
                   for r in block]

    def check(self) -> list[str]:
        errors = []
        con = _duckdb(self.data_dir)
        for (query, k, provider, override), answers in self.seen.items():
            expect_provider = override or "mem0"
            if provider != expect_provider:
                errors.append(f"route {provider!r} for override {override!r}")
                continue
            if provider == "mem0":
                ids = [r[0] for r in con.execute(_MEM0_TOPK, {"q": query, "k": k}).fetchall()]
                scores = dict(con.execute(_MEM0_SCORES, {"q": query, "ids": ids}).fetchall())
                expect = [(i, float(_fmt2(scores[i]))) for i in ids]
            else:
                rows = con.execute(_SUPABASE_TOPK, {"q": query, "k": k}).fetchall()
                expect = [(i, float(_fmt2(c))) for i, c in rows]
            for got in answers:
                if got != expect:
                    errors.append(f"recall_search({query!r}, top_k={k}, {provider}): "
                                  f"{got} != {expect}")
                    break
        for res in self.validations:
            if not (res.get("success") and res["branch_match"] and res["action_match"]):
                errors.append(f"validate_branch: {res}")
        con.close()
        return errors

    def install_trace(self, tracer) -> None:
        from opencode_hive_archon_spark import engine, mcp

        tracer.wrap(mcp.MCPServer, "recall_search", "mcp.recall_search")
        tracer.wrap(mcp.MCPServer, "validate_branch", "mcp.validate_branch")
        tracer.wrap(engine.RecallEngine, "recall", "engine.recall_plan")
        tracer.wrap(engine, "route_retrieval", "plans.routing.route")

    def trace_layers(self, tracer, ops: list[dict]) -> dict:
        st = tracer.self_times()
        out = {}
        for name in ("mcp.recall_search", "mcp.validate_branch", "engine.recall_plan",
                     "plans.routing.route"):
            d = st.get(name, {"count": 0, "total_s": 0.0})
            out[f"{name}_ms"] = 1000 * d["total_s"] / max(1, d["count"])
        searches = [o for o in ops if o["kind"] == "recall_search"]
        out.update(_per_op("operators.recall", searches))
        return out


# ---------------------------------------------------------------------------
# batch_queries: whole passes over registered queries, each
# written into the noop sink
# ---------------------------------------------------------------------------


class QueryBatch:
    def __init__(self, queries: list[str], spark, data_dir: str, seed: int):
        from opencode_hive_archon_spark import registry

        self.queries = queries
        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        specs = registry.all_specs()
        self.specs = {q: specs[q] for q in queries}
        self.digests: dict[str, tuple[int, str]] = {}

    def setup(self) -> None:
        # The untimed warm-up pass collects each result once; the check
        # hashes it against the registry's DuckDB oracle after the window.
        for q in self.queries:
            pdf = self.specs[q].fn(self.spark, self.data_dir).toPandas()
            self.digests[q] = result_digest(pdf)

    def _run(self, q: str):
        def run():
            self.specs[q].fn(self.spark, self.data_dir).write.format("noop").mode(
                "overwrite").save()
        return run

    def units(self):
        for order in datagen.query_passes(self.seed, self.queries):
            yield [Op(q, q, self._run(q), cls="query") for q in order]

    def check(self) -> list[str]:
        errors = []
        con = _duckdb(self.data_dir)
        for q in self.queries:
            rows, digest = self.digests[q]
            oracle = self.specs[q].oracle
            if oracle is None:  # approximate query: rows-only, as the registry declares
                if rows < 1:
                    errors.append(f"{q}: no rows")
                continue
            want = result_digest(con.execute(oracle).df())
            if (rows, digest) != want:
                errors.append(f"{q}: {rows} rows {digest[:12]} != oracle {want[0]} rows {want[1][:12]}")
        con.close()
        return errors

    def install_trace(self, tracer) -> None:
        pass

    def trace_layers(self, tracer, ops: list[dict]) -> dict:
        out: dict = {}
        passes = max(1, sum(1 for o in ops if o["kind"] == self.queries[0]))
        by_module: dict[str, list[dict]] = {}
        for o in ops:
            by_module.setdefault(self.specs[o["kind"]].fn.__module__, []).append(o)
        for mod, mod_ops in sorted(by_module.items()):
            layer = mod.replace("opencode_hive_archon_spark.", "")
            out[f"{layer}.wall_s"] = sum(o["wall_s"] for o in mod_ops) / passes
            out[f"{layer}.executor_cpu_s"] = sum(o["executor_cpu_s"] for o in mod_ops) / passes
            out[f"{layer}.shuffle_write_bytes"] = sum(o["shuffle_write_bytes"] for o in mod_ops) / passes
            out[f"{layer}.jobs"] = sum(o["jobs"] for o in mod_ops) / passes
            out[f"{layer}.outside_jobs_s"] = sum(
                o["wall_s"] - o["in_jobs_s"] for o in mod_ops) / passes
            if layer == "streaming.jobs":
                prog = [p for o in mod_ops for p in tracer.stream_progress(o)]
                out["streaming.jobs.batches"] = len(prog) / passes
                for phase, key in (("queryPlanning", "query_planning_ms"),
                                   ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                                   ("commitOffsets", "commit_offsets_ms"),
                                   ("state_commit_ms", "state_commit_ms"),
                                   ("state_rows", "state_rows")):
                    out[f"streaming.jobs.{key}"] = sum(p[phase] for p in prog) / passes
                out["streaming.jobs.micro_batch_jobs_outside_op_group"] = sum(
                    o["stream_jobs"] for o in mod_ops) / passes
        out["passes"] = passes
        return out


# ---------------------------------------------------------------------------
# delta_ingest
# ---------------------------------------------------------------------------


class DeltaIngest:
    def __init__(self, spark, seed: int, tmp: str):
        self.spark, self.seed = spark, seed
        self.table = os.path.join(tmp, "delta_ingest")
        self.model = datagen.DeltaModel()
        self.ops = datagen.delta_ops(seed, self.model)
        self.errors: list[str] = []
        self.user_bytes = 0
        self.checkpoint_writes: list[int] = []

    def _source(self, rows: list[tuple[int, int]]):
        df = self.spark.createDataFrame(rows, "k BIGINT, q BIGINT")
        return df.selectExpr("k", "q", "concat('row-', lpad(cast(k AS STRING), 12, '0')) AS pad")

    def _run(self, op: dict):
        from opencode_hive_archon_spark.sources import deltalog

        def write(version):
            if version is None:  # optimize found nothing to compact
                return
            datagen.apply_write(self.model, op)
            self.model.record(version)
            if op["op"] in ("append", "merge"):
                self.user_bytes += len(op["rows"]) * (8 + 8 + 16)

        def expect(got, version, what):
            want = self.model.by_version[version]
            if tuple(got) != want:
                self.errors.append(f"{what} at v{version}: {tuple(got)} != model {want}")

        def run():
            from pyspark.sql import functions as F

            kind = op["op"]
            if kind == "append":
                write(deltalog.delta_append(self.spark, self._source(op["rows"]), self.table))
            elif kind == "merge":
                write(deltalog.delta_merge(self.spark, self.table, self._source(op["rows"]), ["k"]))
            elif kind == "delete":
                write(deltalog.delta_delete(
                    self.spark, self.table, f"k >= {op['lo']} AND k < {op['hi']}"))
            elif kind == "optimize":
                write(deltalog.delta_optimize(self.spark, self.table))
            elif kind in ("read_latest", "read_version"):
                version = op.get("version", max(self.model.by_version))
                snap = deltalog.delta_snapshot(
                    self.spark, self.table, version=op.get("version"))
                got = snap.selectExpr("count(*)", "coalesce(sum(q), 0)").first()
                expect(got, version, kind)
            else:
                feed = deltalog.delta_changes(self.spark, self.table, op["from"], op["to"])
                rows = feed.groupBy("_change_type").agg(F.count("*"), F.sum("q")).collect()
                sign = {"insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1}
                net_n = sum(sign[r[0]] * r[1] for r in rows)
                net_q = sum(sign[r[0]] * (r[2] or 0) for r in rows)
                lo, hi = self.model.by_version[op["from"]], self.model.by_version[op["to"]]
                if (net_n, net_q) != (hi[0] - lo[0], hi[1] - lo[1]):
                    self.errors.append(f"changes v{op['from']}..v{op['to']}: net "
                                       f"{(net_n, net_q)} != model {(hi[0] - lo[0], hi[1] - lo[1])}")
        return run

    def _op(self, op: dict) -> Op:
        cls = "read" if op["op"].startswith("read") else "write"
        return Op(op["op"], op["op"], self._run(op), cls=cls)

    def setup(self) -> None:
        # The first cycle creates the table; the second warms up.
        for _ in range(2):
            for op in next(self.ops):
                self._run(op)()

    def units(self):
        for cycle in self.ops:
            yield [self._op(o) for o in cycle]

    def check(self) -> list[str]:
        from opencode_hive_archon_spark.sources import deltalog

        errors = list(self.errors)
        snap = deltalog.delta_snapshot(self.spark, self.table)
        rows = snap.select("k", "q").collect()
        got_n, got_q = len(rows), sum(r[1] for r in rows)
        model = datagen.DeltaModel()
        model.rows = {r[0]: r[1] for r in rows}
        want_n, want_q = len(self.model.rows), sum(self.model.rows.values())
        if (got_n, got_q) != (want_n, want_q) or model.digest() != self.model.digest():
            errors.append(f"final table: {got_n} rows sum(q)={got_q} != model {want_n} rows "
                          f"sum(q)={want_q}, or key sets differ")
        return errors

    def install_trace(self, tracer) -> None:
        from opencode_hive_archon_spark.sources import deltalog

        for fn in ("delta_append", "delta_merge", "delta_delete", "delta_optimize",
                   "delta_snapshot", "delta_changes"):
            tracer.wrap(deltalog, fn, f"sources.deltalog.{fn}")
        checkpoint = deltalog.delta_checkpoint

        def counted(*args, **kwargs):
            if tracer.op_id is not None:
                self.checkpoint_writes.append(tracer.op_id)
            return checkpoint(*args, **kwargs)

        deltalog.delta_checkpoint = counted
        tracer.wrap(deltalog, "delta_checkpoint", "sources.deltalog.delta_checkpoint")

    def trace_layers(self, tracer, ops: list[dict]) -> dict:
        st = tracer.self_times()
        out: dict = {}

        def ms(xs):
            return 1000 * median(xs) if xs else 0.0

        for kind, key in (("append", "append_ms"), ("merge", "merge_ms"),
                          ("delete", "delete_ms"), ("optimize", "optimize_ms")):
            out[f"sources.deltalog.{key}"] = ms([o["wall_s"] for o in ops if o["kind"] == kind])
        writes = [o for o in ops if o["kind"] in ("append", "merge", "delete", "optimize")]
        reads = [o for o in ops if o["kind"].startswith("read")]
        ckpt = set(self.checkpoint_writes)
        out["sources.deltalog.plain_commit_ms"] = ms(
            [o["wall_s"] for o in writes if o["id"] not in ckpt])
        out["sources.deltalog.checkpoint_commit_ms"] = ms(
            [o["wall_s"] for o in writes if o["id"] in ckpt])
        snap = st.get("sources.deltalog.delta_snapshot", {"count": 0, "total_s": 0.0})
        out["sources.deltalog.snapshot_call_ms"] = 1000 * snap["total_s"] / max(1, snap["count"])
        snap_reads = [o for o in reads if o["kind"] != "read_changes"]
        out["sources.deltalog.snapshot_scan_ms"] = ms(
            [o["wall_s"] for o in snap_reads]) - out["sources.deltalog.snapshot_call_ms"]
        out["sources.deltalog.changes_call_ms"] = ms(
            [o["wall_s"] for o in reads if o["kind"] == "read_changes"])
        out["sources.deltalog.jobs_per_write"] = sum(o["jobs"] for o in writes) / max(1, len(writes))
        out["sources.deltalog.jobs_per_read"] = sum(o["jobs"] for o in reads) / max(1, len(reads))
        out.update(self._log_facts())
        for cls, xs in (("write", writes), ("read", reads)):
            for k, v in pct_summary([o["wall_s"] for o in xs]).items():
                out[f"{cls}_{k}"] = v
        return out

    def _log_facts(self) -> dict:
        """Replay slice (latest checkpoint plus the commit JSONs after it),
        live files and bytes stored per user byte, from a listing."""
        from opencode_hive_archon_spark.sources import deltalog

        log = os.path.join(self.table, "_delta_log")
        names = os.listdir(log)
        latest = deltalog.latest_version(self.table)
        ckpts = [int(n[:20]) for n in names if ".checkpoint." in n and n[:20].isdigit()]
        base = max([v for v in ckpts if v <= latest], default=-1)
        slice_bytes = sum(
            os.path.getsize(os.path.join(log, n)) for n in names
            if n[:20].isdigit() and (
                (".checkpoint." in n and int(n[:20]) == base)
                or (n.endswith(".json") and base < int(n[:20]) <= latest))
        )
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(self.table) for f in fs)
        live = len(deltalog.delta_snapshot(self.spark, self.table).inputFiles())
        return {
            "sources.deltalog.replay_slice_bytes": slice_bytes,
            "sources.deltalog.live_files": live,
            "sources.deltalog.bytes_written_per_user_byte": stored / max(1, self.user_bytes),
        }


def _per_op(layer: str, ops: list[dict]) -> dict:
    n = max(1, len(ops))
    return {
        f"{layer}.in_jobs_ms": 1000 * sum(o["in_jobs_s"] for o in ops) / n,
        f"{layer}.outside_jobs_ms": 1000 * sum(o["wall_s"] - o["in_jobs_s"] for o in ops) / n,
        f"{layer}.jobs": sum(o["jobs"] for o in ops) / n,
        f"{layer}.stages": sum(o["stages"] for o in ops) / n,
        f"{layer}.tasks": sum(o["tasks"] for o in ops) / n,
        f"{layer}.shuffle_write_bytes": sum(o["shuffle_write_bytes"] for o in ops) / n,
    }


def make(name: str, spark, data_dir: str, seed: int, tmp: str):
    if name == "recall_serve":
        return RecallServe(spark, data_dir, seed)
    if name == "batch_queries":
        return QueryBatch(BATCH_QUERIES, spark, data_dir, seed)
    if name == "delta_ingest":
        return DeltaIngest(spark, seed, tmp)
    raise ValueError(f"unknown workload {name!r}")


# Table scale per workload (delta_ingest writes its own table and reads none
# of these).
SCALES = {"recall_serve": RECALL_SCALE, "batch_queries": BATCH_SCALE, "delta_ingest": BATCH_SCALE}
