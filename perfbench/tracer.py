"""Tracing for ``--trace 1`` runs: spans around each layer's entry points,
Spark job counters per op, streaming progress and session-cache counters.

Everything is read from outside the engine: a job group per op
(``setJobGroup``), the JVM status store (``statusStore().job(id)`` and
``.lastStageAttempt(id)``; stages are looked up by id because
``stageList`` cannot be called through py4j), a
``StreamingQueryListener``, wrappers around public functions, and
``getRDDStorageInfo``. Spans live in memory and are written once, at exit.
"""

from __future__ import annotations

import functools
import json
import threading
import time

from pyspark.sql.streaming.listener import StreamingQueryListener

# Micro-batch phases kept from each progress event.
PHASES = ("queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.ops: list[dict] = []
        self.counters: dict[str, float] = {}
        self.streams: dict[str, dict] = {}  # runId -> {"progress": [...], "done": bool}
        self._lock = threading.Lock()
        self._terminated = threading.Condition(self._lock)
        self.armed = False

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer.open(name)
                return self

            def __exit__(self, *exc):
                tracer.close(self.idx)
                return False

        return _Span()

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent, "op": self.op_id,
        })
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.remove(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version of itself."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if not self.armed:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def count(self, name: str, n: float = 1) -> None:
        if self.armed:
            self.counters[name] = self.counters.get(name, 0) + n

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total and self seconds (duration minus the part
        covered by child spans)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            d["count"] += 1
            d["total_s"] += s["end"] - s["start"]
            d["self_s"] += s["end"] - s["start"] - child_time[i]
        return out

    # -- ops and Spark job counters ------------------------------------------

    def begin_op(self, spark, kind: str, label: str) -> None:
        self.op_id = len(self.ops)
        self.ops.append({"id": self.op_id, "kind": kind, "label": label,
                         "group": f"perfbench-op-{self.op_id}", "runs": []})
        spark.sparkContext.setJobGroup(self.ops[-1]["group"], label)
        self.open(f"op.{kind}")

    def end_op(self, spark, wall_s: float, ok: bool) -> dict:
        op = self.ops[self.op_id]
        self.close(self._stack[-1])
        self._await_streams(op)
        op.update(wall_s=wall_s, ok=ok, **self._job_stats(spark, op))
        self.op_id = None
        return op

    def _job_stats(self, spark, op: dict) -> dict:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        # Micro-batch jobs run under their query's runId as job group, not
        # the op's group, so they are collected through the runIds the
        # listener saw start inside this op.
        groups = [op["group"], *op["runs"]]
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stats = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                 "executor_cpu_s": 0.0, "in_jobs_s": 0.0, "stream_jobs": 0}
        intervals = []
        seen_stages: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            if job.jobGroup().isDefined() and job.jobGroup().get() != op["group"]:
                stats["stream_jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # never attempted: a skipped stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += st.numTasks()
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
        stats["in_jobs_s"] = _union_ms(intervals) / 1000.0
        return stats

    # -- streaming -------------------------------------------------------------

    def listener(self) -> StreamingQueryListener:
        tracer = self

        class _Listener(StreamingQueryListener):
            # onQueryStarted runs before DataStreamWriter.start() returns, so
            # the op in progress is the op that started the query.
            def onQueryStarted(self, event):
                run = str(event.runId)
                with tracer._lock:
                    tracer.streams.setdefault(run, {"progress": [], "done": False})
                    if tracer.op_id is not None:
                        tracer.ops[tracer.op_id]["runs"].append(run)

            def onQueryProgress(self, event):
                p = event.progress
                rec = {k: p.durationMs.get(k, 0) for k in PHASES}
                rec["batch"] = p.batchId
                rec["state_commit_ms"] = sum(s.commitTimeMs for s in p.stateOperators)
                rec["state_rows"] = sum(s.numRowsTotal for s in p.stateOperators)
                with tracer._lock:
                    tracer.streams.setdefault(
                        str(p.runId), {"progress": [], "done": False})["progress"].append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._terminated:
                    tracer.streams.setdefault(
                        str(event.runId), {"progress": [], "done": False})["done"] = True
                    tracer._terminated.notify_all()

        return _Listener()

    def _await_streams(self, op: dict, timeout_s: float = 30.0) -> None:
        """Block until every query the op started has delivered its
        terminated event, so its last progress is in."""
        deadline = time.monotonic() + timeout_s
        with self._terminated:
            while not all(self.streams[r]["done"] for r in op["runs"]):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no terminated event for {op['runs']}")
                self._terminated.wait(left)

    def stream_progress(self, op: dict) -> list[dict]:
        with self._lock:
            return [p for r in op["runs"] for p in self.streams[r]["progress"]]

    # -- session caches ----------------------------------------------------------

    def install_session_wrappers(self) -> None:
        """Count ``session.materialize*`` calls and keyed-cache hits. Must
        run before any operator module is imported: those modules bind the
        names at import time."""
        from opencode_hive_archon_spark import session

        for attr in ("materialize", "materialize_iter"):
            fn = getattr(session, attr)

            def counted(df, _fn=fn, _name=attr):
                self.count(f"session.{_name}_calls")
                return _fn(df)

            setattr(session, attr, functools.wraps(fn)(counted))

        keyed = session.materialize_keyed

        @functools.wraps(keyed)
        def keyed_counted(spark, key, builder):
            built = []

            def tracking_builder():
                built.append(1)
                return builder()

            out = keyed(spark, key, tracking_builder)
            self.count("session.keyed_builds" if built else "session.keyed_hits")
            return out

        session.materialize_keyed = keyed_counted

    @staticmethod
    def cache_report(spark) -> dict:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        return {
            "cached_rdds": len(cached),
            "cache_mem_mb": sum(i.memSize() for i in cached) / 2**20,
            "cache_disk_mb": sum(i.diskSize() for i in cached) / 2**20,
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "self_times": self.self_times(), "ops": self.ops,
                       "spans": self.spans}, fh, indent=1, default=str)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)
