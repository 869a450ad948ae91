"""Run observation outside the engine: Spark status-store counters,
streaming progress, process memory, host CPU steal and run context.

Spark counters come from the status store (kept with the UI disabled)
through the JVM gateway, so they cost no extra Spark job.
"""

from __future__ import annotations

import glob
import os
import re
import subprocess
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")


# -- Spark status store -------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkCounters:
    """Counters for the jobs and SQL executions of a window of work."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) so far."""
        jobs = _seq(self._jsc.statusStore().jobsList(None))
        execs = _seq(self._sql.executionsList())
        return (
            max((j.jobId() for j in jobs), default=-1),
            max((e.executionId() for e in execs), default=-1),
        )

    def _jobs_after(self, job_mark: int):
        return [j for j in _seq(self._jsc.statusStore().jobsList(None)) if j.jobId() > job_mark]

    def _stage_totals(self, stage_ids: set[int]) -> dict[str, int]:
        out = {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
        if not stage_ids:
            return out
        store = self._jsc.statusStore()
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def window(self, mark: tuple[int, int]) -> dict[str, int]:
        """Totals for every job and SQL execution after ``mark``."""
        jobs = self._jobs_after(mark[0])
        stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
        out = {"jobs": len(jobs), **self._stage_totals(stage_ids)}
        out["exchanges"] = sum(
            exchange_count(e.physicalPlanDescription())
            for e in _seq(self._sql.executionsList())
            if e.executionId() > mark[1]
        )
        return out

    def per_tag(self, mark: tuple[int, int], prefix: str) -> dict[str, dict[str, int]]:
        """Job totals per job tag starting with ``prefix``."""
        by_tag: dict[str, list] = {}
        for j in self._jobs_after(mark[0]):
            for tag in str(j.jobTags().mkString("\u0001")).split("\u0001"):
                if tag.startswith(prefix):
                    by_tag.setdefault(tag, []).append(j)
        out = {}
        for tag, jobs in by_tag.items():
            stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
            out[tag] = {"jobs": len(jobs), **self._stage_totals(stage_ids)}
        return out


def exchange_count(plan_description: str) -> int:
    """Exchange nodes in a formatted physical plan's tree.

    Adaptive plans list a final and an initial plan; the initial plan is
    counted because it does not depend on runtime statistics."""
    tree = plan_description.split("\n\n", 1)[0]
    if "== Initial Plan ==" in tree:
        tree = tree.split("== Initial Plan ==", 1)[1]
    return len(_EXCHANGE.findall(tree))


# -- streaming progress -------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress record and query end."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "query_id": str(p.id),
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def ended_since(self, before: set[str], timeout_s: float = 30.0) -> list[dict]:
        """Progress records of the query runs that ended after ``before``
        was taken; waits for the end event, which the listener bus
        delivers after ``awaitTermination`` returns."""
        deadline = time.monotonic() + timeout_s
        while not (self.terminated - before) and time.monotonic() < deadline:
            time.sleep(0.02)
        with self._lock:
            runs = self.terminated - before
            return sorted(
                (p for p in self.progress if p["run_id"] in runs),
                key=lambda p: (p["run_id"], p["batch_id"]),
            )


# -- process memory and CPU steal ---------------------------------------


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of a process and its descendants.

    PSS splits pages shared between processes (forked Python workers
    share most of theirs) among them, so the sum is the memory the tree
    really holds; summed RSS would count shared pages once per worker."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by a process and its descendants, the
    reaped children of each included, so a worker that exits keeps
    counting through its parent.  Time the host steals from the VM is
    not in it."""
    ticks = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far.

    Compilation is warm-up the JVM does beside the program, heaviest in
    the first passes; the JVM runs with a fixed set of compiler threads
    (see run.py), so none exits and takes its count with it."""
    ticks = 0
    for task in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            with open(task, encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.find("(") + 1 : stat.rfind(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


class ResourceMonitor:
    """Samples the memory of this process and its descendants (the
    driver JVM and Python workers) and host CPU steal over its lifetime."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_pss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-mem", daemon=True)
        self._cpu0 = (0, 0)
        self.steal_share = 0.0

    def _sample(self) -> None:
        self.peak_pss_bytes = max(self.peak_pss_bytes, tree_pss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "ResourceMonitor":
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        steal, total = _cpu_times()
        d_total = total - self._cpu0[1]
        self.steal_share = (steal - self._cpu0[0]) / d_total if d_total > 0 else 0.0

    def sample_now(self) -> None:
        self._sample()


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None
