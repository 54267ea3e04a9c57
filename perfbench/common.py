"""Shared machinery of the benchmark: the pinned Spark session, set-up
timing, the span ledger with Spark job attribution, peak memory from
/proc, and the summary statistics.

Nothing here imports the program at module load: ``run.py`` puts the
checkout on the path first, so a directory holding only the benchmark
fails on the first program import instead of measuring anything.
"""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import time
from contextlib import contextmanager


def nproc() -> int:
    """Cores this process may run on (the cpuset, like ``nproc``)."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- session

def noop(df) -> None:
    """Run a DataFrame to completion into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def start_spark(app: str):
    """The program's own session factory, pinned to ``local[nproc]``:
    ``get_spark`` defaults to 32 cores, which oversubscribes a small box.
    Shuffle partitions get the value ``get_spark`` derives from the core
    count."""
    from findtextcenternet_spark.sources.session import get_spark

    n = nproc()
    spark = get_spark(app=app, master=f"local[{n}]",
                      shuffle_partitions=max(n, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, *, jvm: bool = False) -> None:
    """Stop the session; with ``jvm=True`` also shut the gateway JVM
    down and wait for it to exit (the benchmark leaves no process
    behind)."""
    from pyspark import SparkContext

    spark.stop()
    if not jvm:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave the JVM running
            proc.kill()
            proc.wait(timeout=30)


def measure_setups(app: str, warm_up, n: int) -> tuple[object, list[float]]:
    """Set the session up ``n`` times and time each: session start,
    Python-worker spawn and model load (both happen inside the warm-up
    pass) and the warm-up pass itself. The first sample also pays the
    JVM launch; later ones restart the SparkContext inside that JVM.
    Returns the live session of the last set-up and the samples."""
    samples: list[float] = []
    spark = None
    for i in range(n):
        if spark is not None:
            stop_spark(spark)
        t0 = time.perf_counter()
        spark = start_spark(app)
        warm_up(spark)
        samples.append(time.perf_counter() - t0)
    return spark, samples


# ------------------------------------------------------------ peak memory

def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    """This process and every live descendant: the driver JVM, the
    Python worker daemon and its workers."""
    kids = _proc_children()
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(kids.get(pid, []))
    return seen


def reset_peak_rss(spark) -> None:
    """Start a fresh peak: a full GC lets the driver JVM give back heap
    that set-up grew, then every process's peak mark (VmHWM) is reset to
    its current size (``clear_refs`` value 5), so :func:`peak_rss_mb`
    reads the peak of the work that follows."""
    spark.sparkContext._jvm.System.gc()
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) over this process tree.
    ``psutil`` is not available, so this reads /proc."""
    return sum(_vm_hwm_kb(pid) for pid in _tree()) / 1024.0


# ----------------------------------------------------------------- stats

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def high_percentile(xs: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it
    (p90 needs 100 samples, p50 needs 20); below 20 samples the maximum
    is the only honest tail figure."""
    n = len(xs)
    s = sorted(xs)
    for p in (99.9, 99, 90, 50):
        if n * (100 - p) / 100 >= 10:
            k = min(n - 1, math.ceil(n * p / 100) - 1)
            return f"p{p:g}", s[k]
    return "max", s[-1]


def describe(xs: list[float]) -> dict:
    tag, v = high_percentile(xs)
    return {"median": median(xs), tag: v, "n": len(xs)}


# ----------------------------------------------------------- span ledger

class Ledger:
    """In-memory spans (name, start, end, parent, run id) recorded around
    the benchmark's own calls into each layer, plus Spark job attribution:
    each span with ``jobs=True`` runs under its own job group, and
    ``statusTracker`` gives the jobs, tasks and failed tasks of that
    group. ``enabled=False`` makes every span a no-op, so the untraced
    end-to-end loop runs the same code without the bookkeeping."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark=None, jobs: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = spark.sparkContext if (jobs and spark is not None) else None
        group = f"{self.run_id}:{rec['id']}:{name}"
        if sc is not None:
            sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(_group_counts(sc, group))

    def self_seconds(self, rec: dict) -> float:
        """A span's duration minus the part its child spans cover."""
        return (rec["end"] - rec["start"]) - sum(
            s["end"] - s["start"] for s in self.spans
            if s["parent"] == rec["id"])

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                  "self": self.self_seconds(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f,
                      indent=1)


def _group_counts(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


# -------------------------------------------------------------- box facts

def box_facts(seed: int) -> dict:
    """Recorded with every result: the box, the versions and the seed."""
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": nproc(), "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "seed": seed}
