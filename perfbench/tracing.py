"""Measurement helpers: in-memory spans, a process-tree RSS sampler and
a Spark event-log reader.  Nothing here imports the engine."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        rest = data[data.rfind(")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    """Resident memory of ``pid`` as PSS: a page shared by k processes
    counts 1/k in each, so a Python worker forked from the daemon does
    not count the daemon's pages a second time."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of every descendant of ``root`` (``root``
    itself excluded)."""
    kids = _children_map()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Peak summed resident memory (PSS) of the descendants of ``root``
    (default: this process, i.e. the Spark JVM and its Python workers)
    over each measured interval: ``begin()`` starts one, ``end()``
    closes it and keeps its peak in ``peaks_mb``."""

    def __init__(self, interval: float = 0.1, root: int | None = None):
        self.interval = interval
        self.root = os.getpid() if root is None else root
        self.peaks_mb: list[float] = []
        self._peak = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._peak = max(self._peak, tree_rss_mb(self.root))
            self._stop.wait(self.interval)

    def begin(self) -> None:
        self._peak = 0.0
        self._active.set()

    def end(self) -> None:
        self._active.clear()
        # one last sample, so a short interval is never empty
        self.peaks_mb.append(max(self._peak, tree_rss_mb(self.root)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_heap_peak_mb(spark, reset: bool = False) -> float:
    """Sum of the JVM heap pools' peak used bytes since the last reset,
    read through the JVM's memory-pool MXBeans.  Eden is left out: it
    fills up before every young collection, whatever the live data."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP" and "Eden" not in pool.getName():
            total += pool.getPeakUsage().getUsed()
            if reset:
                pool.resetPeakUsage()
    return total / 2**20


def read_event_log(event_dir: str) -> dict:
    """Task records per job group from a Spark event log directory.

    Returns ``{group: {"tasks": [(stage_id, run_ms)], "shuffle_bytes": n,
    "spill_bytes": n}}``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "-")
                    rec = out.setdefault(group, {"tasks": [], "shuffle_bytes": 0, "spill_bytes": 0})
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec["tasks"].append((ev["Stage ID"], info["Finish Time"] - info["Launch Time"]))
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    return out


def straggler_ratio(tasks: list[tuple[int, int]]) -> float:
    """max / median task time of the stage with the most task time."""
    by_stage: dict[int, list[int]] = {}
    for sid, ms in tasks:
        by_stage.setdefault(sid, []).append(ms)
    if not by_stage:
        return 0.0
    main = max(by_stage.values(), key=sum)
    med = statistics.median(main)
    return max(main) / med if med else 0.0
