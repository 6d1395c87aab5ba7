"""Shared plumbing for the benchmark: host facts, the pinned Spark session,
the span tracer, Spark event-log counters and small statistics helpers.

Nothing here changes engine code. The session is pinned from outside
through ``get_spark`` arguments and the ``SPARK_GRAFT_DRIVER_MEM``
environment variable; every file the run writes lands under the run's
work directory inside the checkout.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- host ----

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """JVM heap that fits this host: a fifth of MemTotal, 1-4 GiB.

    The engine's own default (16g, pre-touched) cannot start on a 15 GB
    host, and local mode runs executors inside the same JVM, so the heap
    must leave room for the Python workers and the page cache."""
    return max(1024, min(4096, mem_total_mb() // 5))


class StealMeter:
    """CPU steal share of the whole host between two /proc/stat reads."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def pct(self) -> float:
        now = self._read()
        d = [b - a for a, b in zip(self.start, now)]
        return 100.0 * d[7] / max(sum(d), 1)


# ------------------------------------------------------------- session ----

class Session:
    """One pinned SparkSession per run: ``local[nproc]``, shuffle
    partitions = nproc, heap sized from MemTotal, scratch inside the run's
    work directory. ``close()`` stops Spark and waits for the JVM."""

    def __init__(self, work: str, traced: bool):
        self.cpus = cpu_count()
        self.heap = f"{heap_mb()}m"
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.heap
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = None
        if traced:
            self.event_dir = os.path.join(work, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from sac2mseed_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def host(self, steal_pct: float) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "cpus": self.cpus,
            "mem_total_mb": mem_total_mb(),
            "heap": self.heap,
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "steal_pct": round(steal_pct, 3),
        }

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# -------------------------------------------------------------- tracing ----

class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span records name, start, end and parent; every span of a run shares
    the run id. While a span is open it is also the Spark job group (id
    ``<span id>:<name>``, description = layer name), so the event log
    attributes every job to the innermost span. Disabled tracers cost one
    attribute check per call and set no job group."""

    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{sid}:{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                p = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{p['id']}:{p['name']}", p["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover
        (children of one span never overlap: the client is sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def under(self, root_name: str) -> set[int]:
        """Ids of every span inside (or equal to) a span named root_name."""
        out: set[int] = set()
        for s in self.spans:
            p = s["id"]
            while p is not None:
                if self.spans[p]["name"] == root_name:
                    out.add(s["id"])
                    break
                p = self.spans[p]["parent"]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_durations(self, name: str) -> list[float]:
        st = self.self_times()
        return [st[s["id"]] for s in self.spans if s["name"] == name]

    def per_parent(self, parent: str, child: str) -> list[float]:
        """For each span named ``parent``, the summed self time of its
        direct children named ``child``."""
        st = self.self_times()
        sums = {s["id"]: 0.0 for s in self.spans if s["name"] == parent}
        for s in self.spans:
            if s["name"] == child and s["parent"] in sums:
                sums[s["parent"]] += st[s["id"]]
        return list(sums.values())

    def jobs(self, counters: dict[int, dict]) -> dict[str, list[int]]:
        """For each span name, the Spark jobs of each span of that name."""
        out: dict[str, list[int]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(counters.get(s["id"], {}).get("jobs", 0))
        return out

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": st[s["id"]]}) + "\n")


def job_counters(event_dir: str) -> dict[int, dict]:
    """Per-span Spark counters parsed from the local event log: jobs,
    tasks, executor run time, shuffle bytes written and bytes spilled.
    Keys are span ids (from the job group id); jobs outside any span are
    dropped."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
    )
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    sid = int(group.split(":", 1)[0])
                    out[sid]["jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    c = out[sid]
                    c["tasks"] += 1
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out)


def sum_counters(counters: dict[int, dict], span_ids) -> dict:
    tot = {"jobs": 0, "tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
    for sid in span_ids:
        for k, v in counters.get(sid, {}).items():
            tot[k] += v
    return tot


# ---------------------------------------------------------------- stats ----

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return float(xs[k])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
