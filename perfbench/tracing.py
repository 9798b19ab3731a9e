"""Spans, process-tree memory sampling and Spark event-log metrics.

Spans are recorded by the benchmark around its calls into the engine's
public functions; nothing inside the engine is instrumented.  They are kept
in memory and written as JSON when the run ends.  Job, stage, task, shuffle,
spill and GC figures come from a Spark event log that the traced run enables
from outside (``--conf`` via ``PYSPARK_SUBMIT_ARGS``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
import uuid

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans: name, start, end, parent, run id.

    With a SparkContext, each span also sets the job group, so every job
    the span submits from this thread carries the span's name."""

    def __init__(self, sc=None) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}:{name}", name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]["name"]
                    self.sc.setJobGroup(f"{self.run_id}:{parent}", parent, interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


# ---------------------------------------------------------------------------
# peak resident memory of the process tree
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for task in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(task) as f:
                    todo.extend(int(x) for x in f.read().split())
            except OSError:
                pass
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # the process ended meanwhile
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including what they collected from children that already exited."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass  # the process ended meanwhile
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class CpuMeter:
    """CPU seconds of this process tree since the meter was made, and the
    share of the machine's time the hypervisor stole meanwhile.

    On a virtual machine whose host lends its cores to others, a busy host
    both steals time and slows the time it leaves (shared caches and
    hyperthreads), so CPU seconds grow with the steal share.  ``scaled``
    takes that share back out: cpu * (1 - steal)."""

    def __init__(self) -> None:
        self.pid = os.getpid()
        self.cpu0 = tree_cpu_seconds(self.pid)
        self.ticks0 = cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(cpu seconds, steal share) so far."""
        cpu = tree_cpu_seconds(self.pid) - self.cpu0
        steal, total = (now - then for now, then in zip(cpu_ticks(), self.ticks0))
        return cpu, steal / max(1, total)

    def scaled(self) -> float:
        cpu, steal = self.read()
        return cpu * (1 - steal)


class RssSampler:
    """Background thread sampling the RSS of this process and every
    descendant (JVM, Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append(tree_rss_bytes(os.getpid()))

    @property
    def peak(self) -> int:
        return max(self.samples)

    @property
    def median(self) -> float:
        return statistics.median(self.samples)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_confs(log_dir: str) -> list[str]:
    """``--conf`` arguments that turn on a plain-JSON event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the event log(s) in ``log_dir``.

    jobs: {id, submit, end, stage_ids, group}; stages: {id, submit, end,
    tasks, shuffle_write, spill, gc_ms}.  Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "submit": e["Submission Time"] / 1000,
                        "end": None,
                        "stage_ids": e["Stage IDs"],
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

                    def num(k: str) -> float:
                        try:
                            return float(acc.get(k) or 0)
                        except (TypeError, ValueError):
                            return 0.0

                    stages.append(
                        {
                            "id": si["Stage ID"],
                            "submit": (si.get("Submission Time") or 0) / 1000,
                            "end": (si.get("Completion Time") or 0) / 1000,
                            "tasks": si["Number of Tasks"],
                            "shuffle_write": num("internal.metrics.shuffle.write.bytesWritten"),
                            "spill": num("internal.metrics.memoryBytesSpilled")
                            + num("internal.metrics.diskBytesSpilled"),
                            "gc_ms": num("internal.metrics.jvmGCTime"),
                        }
                    )
    return list(jobs.values()), stages


def in_window(items: list[dict], start: float, end: float) -> list[dict]:
    """Jobs or stages submitted inside [start, end]: one client submits
    everything, so a span's window holds exactly the work it caused,
    including jobs from helper threads that do not inherit the job group."""
    return [x for x in items if start <= x["submit"] <= end]
