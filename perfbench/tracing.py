"""Tracing helpers for the benchmark's traced run.

Everything here observes the engine from outside:

* ``Spans`` records a span around each call the benchmark makes into a
  layer (name, start, end, parent, one run id), keeps them in memory and
  writes them out once, with each span's self time.
* ``RssSampler`` samples the resident memory of this process tree (driver
  JVM plus Python workers) from ``/proc``; ``psutil`` is not needed.
* ``layer_metrics`` reads a Spark event log and sums task metrics per job
  group, so each layer's jobs, tasks, CPU, shuffle and spill are attributed
  to the layer that ran them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import uuid

MB = float(1 << 20)


class Spans:
    """In-memory span recorder. ``span(name)`` nests: the innermost open
    span is the parent of the next one."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Summed duration of every closed span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def with_self_time(self) -> list[dict]:
        """Spans with ``duration_s`` and ``self_s``: the duration minus the
        part of the interval that its children cover (children of one
        parent never overlap here, since the recorder is single-threaded)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered.get(s["id"], 0.0)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.with_self_time():
                fh.write(json.dumps(s) + "\n")


def _parents() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after the last ')'
        table[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return table


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark" in cmd and (b"daemon" in cmd or b"worker" in cmd)


class RssSampler:
    """Background thread: peak summed RSS of this process and all of its
    descendants, and the peak number of PySpark worker processes."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_rss_kb = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pids = [me, *descendants(me)]
        self.peak_rss_kb = max(self.peak_rss_kb, sum(_rss_kb(p) for p in pids))
        self.peak_workers = max(self.peak_workers, sum(_is_python_worker(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


LAYER_FIELDS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest (uncompressed) event log under ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    with open(files[-1]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def layer_metrics(events: list[dict], groups: tuple[str, ...]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks and summed task metrics (seconds, MiB)."""
    stage_group: dict[int, str] = {}
    out = {g: dict.fromkeys(LAYER_FIELDS, 0.0) for g in groups}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group in out:
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = stage_group.get(ev.get("Stage ID"))
        tm = ev.get("Task Metrics")
        if group is None or not tm:
            continue
        m = out[group]
        m["tasks"] += 1
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    return out
