"""Measurement helpers shared by the workloads.

* :class:`RssSampler` — peak resident memory (PSS) of this process and
  every descendant (the Spark JVM and its Python workers), from /proc.
* :class:`Spans` — wall-clock spans around calls into the engine, each run
  under a Spark job group named after the span, so the event log can be
  reduced per span.
* :func:`reduce_event_log` — per job group: jobs, tasks, max/median task
  time, input bytes, shuffle read+write bytes, spill.
* :func:`percentile` — a percentile that refuses to report a tail it has
  fewer than ten samples beyond.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, ()):
            out.append(k)
            todo.append(k)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict[int, int]:
    """pid → resident bytes for root and every descendant, as PSS: a page
    shared by n processes counts 1/n to each. Plain RSS would count the
    Python workers' shared interpreter pages once per worker, and the
    JVM's whole heap twice while it forks a worker."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            out[pid] = _pss_bytes(pid)
        except OSError:  # exited since the scan
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    this host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed PSS of this process tree every ``interval`` s on
    a daemon thread; ``peak_mb`` is the largest sum seen so far."""

    def __init__(self, interval: float = 0.5) -> None:
        self._interval = interval
        self._stop = threading.Event()
        self._peak = 0
        self.peak_detail: list[tuple[str, int]] = []  # (command, MB) at the peak
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss(me)
            if sum(rss.values()) > self._peak:
                self._peak = sum(rss.values())
                self.peak_detail = sorted(
                    ((_comm(p), round(v / 2**20)) for p, v in rss.items()),
                    key=lambda x: -x[1],
                )
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self._peak / 2**20


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float:
    """The ``q``-th percentile (0 < q < 100, nearest rank) of ``values``.

    Raises ValueError when fewer than ``min_beyond`` samples lie above it:
    a tail estimated from a handful of samples is noise, and reporting a
    thinner percentile instead would silently change the metric."""
    xs = sorted(values)
    rank = math.ceil(q / 100 * len(xs))
    beyond = len(xs) - rank
    if rank < 1 or beyond < min_beyond:
        raise ValueError(
            f"p{q:g} needs {min_beyond} samples beyond it; "
            f"{len(xs)} samples leave {max(beyond, 0)}"
        )
    return xs[rank - 1]


class Spans:
    """Wall-clock spans around engine calls.

    ``with spans.span("pipeline.raw_statements"):`` times the block and
    runs every Spark action it triggers under that job group (on the
    calling thread). ``spans.times[name]`` lists the durations."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.times: dict[str, list[float]] = defaultdict(list)

    def set_group(self, name: str) -> None:
        self._sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str, group: bool = True):
        if group:
            self.set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name].append(time.perf_counter() - t0)
            if group:
                self._sc.setJobGroup("bench.idle", "bench.idle")


# ---------------------------------------------------------------------------
# Event log reduction


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf for a plain-JSON, single-file event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _empty_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "input_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "_stage_task_ms": defaultdict(list),
    }


def reduce_event_log(path: str) -> dict[str, dict]:
    """Job group → {jobs, tasks, input_bytes, shuffle_bytes (read +
    write), shuffle_read_bytes, shuffle_write_bytes, spill_bytes (memory
    + disk), task_skew, max_task_ms, median_task_ms}.

    ``task_skew`` is the largest max/median task time over the group's
    stages that ran at least two tasks (1.0 when none did): skew is a
    property of one stage's tasks, and pooling a 1-task stage with a
    200-task one would report size differences as skew."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_empty_group)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "<none>"
                groups[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "<none>")
                rec = groups[g]
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                rec["tasks"] += 1
                rec["_stage_task_ms"][ev["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"]
                )
                rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    out = {}
    for g, rec in groups.items():
        per_stage = rec.pop("_stage_task_ms")
        all_ms = [t for ts in per_stage.values() for t in ts]
        skews = [
            max(ts) / max(statistics.median(ts), 1)
            for ts in per_stage.values()
            if len(ts) >= 2
        ]
        rec["shuffle_bytes"] = rec["shuffle_read_bytes"] + rec["shuffle_write_bytes"]
        rec["task_skew"] = max(skews, default=1.0)
        rec["max_task_ms"] = max(all_ms, default=0)
        rec["median_task_ms"] = statistics.median(all_ms) if all_ms else 0
        out[g] = rec
    return out


def find_event_log(log_dir: str) -> str:
    """The single finished event log Spark wrote into ``log_dir``."""
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
