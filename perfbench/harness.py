"""Shared benchmark machinery: sandbox hygiene, the Spark session, the RSS
sampler, spans with Spark job groups and event-log attribution.

Nothing here imports ``crawlspark`` at module level, so ``run.py`` can
report a missing package before any Spark work starts.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# driver heap cap: the machine this runs on is a few-core box with ~15 GB
# shared by everything on it; the session factory's default (48g) is sized
# for a real driver node
DRIVER_MEM = "2g"


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# run context: work directory, environment, session
# ---------------------------------------------------------------------------


class Bench:
    """One benchmark process: owns the work directory inside the checkout,
    the Spark session it starts, and the RSS sampler."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpu_count()
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("local", "tmp", "events", "warehouse", "data"):
            os.makedirs(os.path.join(self.work, sub))
        # hygiene: Python workers must import crawlspark from the checkout;
        # shuffle/spill and temp files stay inside the checkout
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["CRAWLSPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.pop("CRAWLSPARK_TIMING", None)
        self.spark = None
        self.rss = RssSampler()
        self.rss.start()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        """Launch the JVM and start the Spark session; returns the seconds
        it took."""
        from crawlspark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no hsperfdata file under /tmp; JVM temp files stay in the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        # a trivial job so the start includes executor readiness
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def event_log(self) -> str | None:
        """Path of the current application's event log (trace runs)."""
        if self.spark is None or not self.trace:
            return None
        return self.path("events", self.spark.sparkContext.applicationId)

    def stop_spark(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        self.rss.stop()
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


# ---------------------------------------------------------------------------
# memory: summed RSS of every process this one started (JVM + Python workers)
# ---------------------------------------------------------------------------


class RssSampler:
    """Samples the summed RSS of all descendant processes from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        """Restart the peak from the current RSS (start of a measured window)."""
        with self._lock:
            self.peak_bytes = self._descendants_rss()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _descendants_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            ppid = int(stat.rpartition(")")[2].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, self._descendants_rss())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent). Given a SparkContext,
    each span also sets a Spark job group, so the event log attributes
    jobs, tasks, shuffle, spill and GC to the innermost open span.

    ``wrap`` patches a public function or method of a layer for the life of
    the tracer (``restore`` undoes it); the patched call runs inside a span.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.cost_s = 0.0  # bookkeeping time spent inside the tracer itself

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        self.cost_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.cost_s += time.perf_counter() - sp.end

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Run ``owner.attr`` inside a span named ``name``. ``on_call(span,
        args, kwargs, result)`` may record attributes from the call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries over recorded spans -------------------------------------------

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if self.is_under(s, within)]
        return out

    def is_under(self, s: Span, root: Span) -> bool:
        while s.parent is not None:
            if s.parent == root.id:
                return True
            s = self.spans[s.parent]
        return False

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span, child_names: set[str]) -> float:
        """Span duration minus what its named child spans cover (spans
        come from one driver thread, so children never overlap)."""
        return sp.dur - sum(c.dur for c in self.children(sp) if c.name in child_names)

    def subtree_groups(self, sp: Span) -> set[str]:
        return {sp.group} | {s.group for s in self.spans if self.is_under(s, sp)}


# ---------------------------------------------------------------------------
# Spark event log -> per-job-group counters
# ---------------------------------------------------------------------------

_ZERO = {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
         "shuffle_bytes": 0, "spill_bytes": 0}


def read_event_log(path: str) -> dict[str | None, dict]:
    """Aggregate a Spark event log by job group: job and task counts,
    executor run time, JVM GC time, shuffle bytes written, bytes spilled
    (memory + disk). Call after the session stopped (log complete)."""
    if not os.path.exists(path) and os.path.exists(path + ".inprogress"):
        path += ".inprogress"
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out.setdefault(group, dict(_ZERO))["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                agg = out.setdefault(group, dict(_ZERO))
                agg["tasks"] += 1
                agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                agg["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return out


def sum_groups(stats: dict[str | None, dict], groups) -> dict:
    total = dict(_ZERO)
    for g in groups:
        for k, v in stats.get(g, _ZERO).items():
            total[k] += v
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# results
# ---------------------------------------------------------------------------


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int
    failed: int
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    notes: list[str] = field(default_factory=list)  # human-readable lines
