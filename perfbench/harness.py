"""Session, spans, memory sampling and drift control for the benchmark.

Everything here is measurement plumbing around the sparktiles calls;
nothing in it changes what the engine computes.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from statistics import median

import numpy as np


def cpu_slots() -> int:
    """Task slots = the CPUs this process may run on (nproc)."""
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, event_dir: Path | None = None):
    """A local[nproc] session whose scratch, warehouse and event-log files
    stay under ``work`` (the JVM's temp dir is set by run._env).
    ``event_dir`` turns on an uncompressed event log."""
    from sparktiles.session import get_spark

    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir.resolve().as_uri(),
        })
    spark = get_spark("perfbench", cpus=cpu_slots(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait until
    it and its Python workers have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Tracer:
    """Spans (name, start, end, parent) kept in memory. When enabled and
    given a live SparkContext, each span also tags the Spark jobs it
    starts with its name as the job group, so the event log can be rolled
    up per layer."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": None if parent is None else self.spans[parent]["name"]}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._tag(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _tag(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self, root: str) -> dict[str, float]:
        """Self time of every span name under the first span ``root``
        (its duration minus the part its child spans cover)."""
        idx = next(i for i, s in enumerate(self.spans) if s["name"] == root)
        lo, hi = self.spans[idx]["start"], self.spans[idx]["end"]
        inside = [s for s in self.spans[idx:] if lo <= s["start"] and s["end"] <= hi]
        out: dict[str, float] = {}
        for i, s in enumerate(inside):
            child = sum(c["end"] - c["start"] for c in inside[i + 1:]
                        if c["parent"] == s["name"]
                        and s["start"] <= c["start"] and c["end"] <= s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child)
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


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """RSS of the driver JVM plus its Python workers, sampled from /proc
    every ``period_s`` as (monotonic time, MB)."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self):
        kb = sum(_rss_kb(p) for p in _descendants(self.jvm_pid))
        self.samples.append((time.perf_counter(), kb / 1024.0))

    def between(self, t0: float, t1: float) -> list[float]:
        return [mb for t, mb in self.samples if t0 <= t <= t1]

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def drift_control(spark, slots: int) -> dict:
    """Fixed work whose time tracks the box, not the code: a streaming
    memory copy (GB/s) and a fixed Spark job (s, median of 3)."""
    src = np.ones(1 << 23)  # 64 MiB
    dst = np.empty_like(src)
    rates = []
    for _ in range(8):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        rates.append(2 * src.nbytes / (time.perf_counter() - t0) / 1e9)
    from pyspark.sql import functions as F

    job = (spark.range(0, 5_000_000, 1, slots)
           .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
           .groupBy(F.substring("h", 1, 3)).count()
           .select(F.sum("count")))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        job.collect()
        walls.append(time.perf_counter() - t0)
    return {"membw_gbps": median(rates), "spark_job_s": median(walls)}
