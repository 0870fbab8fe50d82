"""Process-level plumbing: environment, Spark session lifetime, CPU and heap
accounting, percentiles, and result normalization for oracle checks."""

from __future__ import annotations

import hashlib
import math
import os
import signal
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
# JVM heap for the driver (and its local executors). The engine's default
# is 16g; the benchmark's inputs need far less, and a smaller cap keeps the
# process small on a shared host.
DRIVER_MEM = "4g"


def process_start_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def prepare_env(root: str) -> str:
    """Point every scratch path of the run inside ``root``; returns the run's
    temp dir. Must run before pyspark or tempfile pick their defaults."""
    import tempfile

    tmp = os.path.join(root, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # Python workers import the engine package from the checkout.
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return tmp


def start_spark(tmp: str):
    from opencode_hive_archon_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (ppid, ticks / CLK_TCK)
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (the JVM and its
    Python workers). A child that exits is reaped into its parent's
    cutime/cstime, so the total only grows."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(me, table)] if p in table)


# HotSpot names its JIT compiler threads so (15 characters, cut by the kernel).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s() -> float:
    """CPU seconds of the JIT compiler threads of every descendant JVM.
    Exact only while those threads live for the whole run, which
    ``-XX:-UseDynamicNumberOfCompilerThreads`` (set by ``start_spark``)
    ensures."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREADS):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(fields[11]) + int(fields[12])  # utime stime
    return total / CLK_TCK


def work_cpu_s() -> float:
    """CPU seconds of the process tree less its JIT compiler threads. A
    fresh JVM compiles for minutes; how much of that lands in a short
    window varies from run to run, and a long-lived session pays it once."""
    return tree_cpu_s() - jit_cpu_s()


def heap_live_mb(spark, settle_s: float = 0.5, rounds: int = 20) -> float:
    """JVM heap in use after full collections, once it stops falling.
    Python collects first, so py4j releases JVM objects only dead Python
    proxies held; Spark's ContextCleaner then drops unreachable cached and
    checkpointed blocks asynchronously, so collection repeats until two
    readings in a row agree."""
    import gc

    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    last = None
    for _ in range(rounds):
        gc.collect()
        jvm.System.gc()
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if last is not None and abs(used - last) < 0.1:
            break
        last = used
        time.sleep(settle_s)
    return used


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, the JVM and its workers, and wait until every
    descendant process has exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout_s)
            except Exception:
                proc.kill()
                proc.wait(timeout_s)
        _reap(kids, timeout_s)


def _reap(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile; failed ops are passed as ``math.inf``."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def pct_summary(samples: list[float]) -> dict:
    """Sample count and median in ms, plus the p90 only when at least 10
    samples lie beyond it."""
    out: dict = {"n": len(samples)}
    if samples:
        out["p50_ms"] = statistics.median(samples) * 1000
    if len(samples) >= 100:
        out["p90_ms"] = percentile(samples, 90) * 1000
    return out


# ---------------------------------------------------------------------------
# Order-insensitive result hashing, shared by every oracle check: column
# names sorted, rows sorted, NULL and NaN folded together, floats exact.
# ---------------------------------------------------------------------------


def _norm_value(v):
    if v is None:
        return ("n", None)
    if isinstance(v, float):
        return ("n", None) if math.isnan(v) else ("f", v)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(float(x) for x in v))
    if hasattr(v, "item"):  # numpy scalar
        return _norm_value(v.item())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    return ("s", str(v))


def result_digest(pdf) -> tuple[int, str]:
    """(row count, sha256) of a pandas frame, independent of row and column
    order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_norm_value(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
    return len(rows), h.hexdigest()
