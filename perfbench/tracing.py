"""Measurement helpers of the extraction benchmark, all taken from outside
the program: spans around calls into its layers, Python-worker memory read
from ``/proc``, task metrics read back from Spark's event log, and the host
stamp each result records."""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans (name, start, end, parent; row phases carry the url),
    written out once at the end of the run.  Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, url: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_ns": time.perf_counter_ns(),
            "end_ns": None,
        }
        if url is not None:
            rec["url"] = url
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end_ns"] = time.perf_counter_ns()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in self.spans if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _children(pid_ppid: dict[int, int], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in pid_ppid.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for kid in kids.get(todo.pop(), ()):
            if kid not in out:
                out.add(kid)
                todo.append(kid)
    return out


def process_table() -> dict[int, int]:
    """pid -> ppid of every process visible in /proc."""
    table = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # "pid (comm) state ppid ..."; comm may hold spaces and parentheses
        fields = stat[stat.rindex(b")") + 2 :].split()
        table[int(entry.name)] = int(fields[1])
    return table


def descendants() -> set[int]:
    """Pids of every process descended from this one."""
    return _children(process_table(), os.getpid())


def _python_peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if not fh.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Highest peak RSS (VmHWM) of any single Python process descended
    from this one, i.e. of any Spark Python worker, sampled from a
    background thread between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        for pid in descendants():
            self.peak_kb = max(self.peak_kb, _python_peak_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_kb / 1024


def eventlog_metrics(log_file: Path, job_ids: set[int]) -> dict[str, float]:
    """Task metrics of ``job_ids`` from one Spark event log file.

    ``spark.task_stall_ratio`` is max/median task time within the stage that
    holds the most task time, the stage that sets the job's wall."""
    stages: set[int] = set()
    tasks: dict[int, list[tuple[int, int, int]]] = {}
    with open(log_file) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart" and ev["Job ID"] in job_ids:
                stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tasks.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"], metrics.get("Executor Run Time", 0), shuffle)
                )
    mine = {s: t for s, t in tasks.items() if s in stages}
    run_ms = sum(t[1] for ts in mine.values() for t in ts)
    stall = 1.0
    if mine:
        heavy = max(mine.values(), key=lambda ts: sum(t[0] for t in ts))
        durations = [t[0] for t in heavy]
        stall = max(durations) / max(statistics.median(durations), 1)
    return {
        "spark.shuffle_write_mb": sum(t[2] for ts in mine.values() for t in ts) / 1e6,
        "spark.task_s_sum": run_ms / 1000,
        "spark.task_stall_ratio": stall,
    }


def _git_sha(root: Path) -> str | None:
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def source_digest(package_dir: Path) -> str:
    """sha256 over the Python sources under ``package_dir``; identifies the
    code in checkouts without git."""
    import hashlib

    h = hashlib.sha256()
    for path in sorted(package_dir.rglob("*.py")):
        h.update(str(path.relative_to(package_dir)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def host_stamp(root: Path, package_dir: Path, seed: int, cpus: int, load_start: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "git_sha": _git_sha(root),
        "source_sha256": source_digest(package_dir),
        "bench_sha256": source_digest(Path(__file__).resolve().parent),
        "nproc": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }
