"""Shared machinery for the lake benchmark: spans, Spark status reads,
memory sampling and the host probe.

Everything here observes the program from outside: spans are opened by
the workload files around calls into the program's public functions,
and job/stage/SQL figures are read back from Spark's own status stores
(``AppStatusStore`` for stages, the SQL status store for plan-node
metrics) by job group. Nothing reads the program's own metric helpers,
so a change to them cannot change what is measured.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterator

# Failure messages that start with this name a documented program
# defect: counted as failed operations, reported, and excluded from the
# "correct" verdict (which is about defects nobody has recorded yet).
KNOWN_DEFECT = "known defect"

# Span names are "<layer>.<call>"; the layer is the program module the
# call enters. "bench" spans are the benchmark's own work (operation
# bookkeeping, checks) and never count towards a program layer.
LAYERS = ("session", "sources", "functions", "engine", "workload", "operators")

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM_UNIT = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value -> number in base units (bytes,
    seconds, count). Multi-line values ("total (min, med, max ...)\\n
    1.2 KiB (...)") carry the total at the start of the second line."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _union_ms(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Per-job-group figures read from Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_execution(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        execs = self._sql_store().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status stores hold the finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_figures(self, group: str, since: int) -> dict[str, float]:
        """Jobs, tasks, shuffle, spill and plan-node figures of every
        job run under ``group``, whose SQL executions are newer than
        ``since`` (call after ``drain``)."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = {
            "jobs": float(len(jobs)), "tasks": 0.0, "shuffle_bytes": 0.0,
            "spill_bytes": 0.0, "scan_stages": 0.0, "scan_tasks": 0.0,
        }
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for s in stages:
            seq = store.stageData(s, False, None, False, self._empty)
            if seq.size() == 0:
                continue
            sd = seq.apply(0)
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled()
            if sd.inputBytes() > 0:
                out["scan_stages"] += 1
                out["scan_tasks"] += sd.numTasks()
        spans = []
        for j in jobs:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append((jd.submissionTime().get().getTime(), jd.completionTime().get().getTime()))
        out["job_s"] = _union_ms(spans) / 1000.0
        out.update(self._sql_figures(set(jobs), since))
        return out

    def _sql_figures(self, jobs: set[int], since: int) -> dict[str, float]:
        """Plan-node metrics of the SQL executions whose jobs belong to
        ``jobs``: exchanges, scan rows, Python-node time and bytes, and
        the largest join output (the candidate side of a verify join)."""
        store = self._sql_store()
        execs = store.executionsList()
        out = {
            "exchanges": 0.0, "scan_rows": 0.0, "python_s": 0.0,
            "python_bytes": 0.0, "join_rows": [],
        }
        # executions are listed by id: read those newer than ``since``,
        # newest first; job membership splits a parent span's from its
        # children's
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= since:
                break
            exec_jobs = {int(k) for k in e.jobs().keys().mkString(",").split(",") if k}
            if not exec_jobs & jobs:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_metric(v.get() if v.isDefined() else None)
                if name == "Exchange":
                    out["exchanges"] += 1
                elif name.startswith("Scan "):
                    out["scan_rows"] += metrics.get("number of output rows", 0.0)
                elif "InPandas" in name or "ArrowEvalPython" in name or "BatchEvalPython" in name:
                    out["python_s"] += metrics.get("time to run Python workers", 0.0)
                    out["python_bytes"] += metrics.get("data sent to Python workers", 0.0)
                    out["python_bytes"] += metrics.get("data returned from Python workers", 0.0)
                elif "Join" in name:
                    out["join_rows"].append(metrics.get("number of output rows", 0.0))
        return out


class Tracer:
    """Spans around calls into the program, kept in memory.

    Disabled, ``span`` only tags the job group of top-level operations
    (which the untraced run needs anyway) and records nothing. Enabled,
    each span runs under its own job group and, when it closes, its
    Spark figures are read back from the status stores."""

    def __init__(self, spark) -> None:
        self.enabled = False
        self.spark = spark
        self.sc = spark.sparkContext
        self.status: SparkStatus | None = None
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.check_s = 0.0

    def enable(self) -> None:
        self.enabled = True
        self.status = SparkStatus(self.spark)

    @contextmanager
    def check(self) -> Iterator[None]:
        """The benchmark's own output checks: traced as "bench.check"
        and kept out of operation latency."""
        t0 = time.perf_counter()
        try:
            with self.span("bench.check"):
                yield
        finally:
            self.check_s += time.perf_counter() - t0

    @contextmanager
    def operation(self, op_id: int) -> Iterator[None]:
        """Top-level operation: its own job group in every run."""
        self.op_id = op_id
        self.sc.setJobGroup(f"lakeperf-op-{op_id}", f"op {op_id}", interruptOnCancel=False)
        try:
            with self.span("bench.op"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_id = None

    @contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any] | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec: dict[str, Any] = {"id": sid, "name": name, "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(sid)
        outer_group = self.sc.getLocalProperty("spark.jobGroup.id")
        group = f"lakeperf-span-{sid}"
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        since = self.status.last_execution()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer_group is not None:
                self.sc.setJobGroup(outer_group, "", interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.status.drain()
            rec["spark"] = self.status.group_figures(group, since)

    # -- reductions over the recorded spans --------------------------
    def of(self, prefix: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def spark_sum(self, prefix: str, key: str) -> float:
        return sum(s["spark"][key] for s in self.of(prefix))

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part its
        child spans cover, summed by layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS + ("bench",)}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k != "spark"}
                if "spark" in s:
                    rec["spark"] = {k: v for k, v in s["spark"].items() if k != "join_rows"}
                f.write(json.dumps(rec) + "\n")


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- memory -----------------------------------------------------------
def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Summed resident memory of the JVM and every process it spawned
    (the Python worker daemon and its workers), sampled every
    ``interval`` seconds on a background thread while running; the peak
    of the sums is reported."""

    def __init__(self, spark, interval: float = 0.25) -> None:
        self.root = spark.sparkContext._gateway.proc.pid
        self.exe = _exe(self.root)
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        # A child that still runs the JVM's own executable is a spawn
        # caught before its exec (Hadoop shells out for file
        # permissions); it shares the JVM's pages and would count them
        # twice.
        total = _rss_bytes(self.root)
        todo = _children(self.root)
        while todo:
            pid = todo.pop()
            if _exe(pid) != self.exe:
                total += _rss_bytes(pid)
                todo.extend(_children(pid))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def heap_after_gc(spark) -> int:
    """Bytes of JVM heap in use after a full collection: what the driver
    still holds (cached or pinned blocks, broadcasts, plans, status
    data) once garbage is gone."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python first, so the JVM objects only its proxies held are released;
    # a second collection after a pause frees what Spark's context cleaner
    # drops (broadcasts, shuffles) once the first one found them unreachable.
    gc.collect()
    bean.gc()
    time.sleep(0.5)
    bean.gc()
    return int(bean.getHeapMemoryUsage().getUsed())


# -- host probe (context, not a metric) -------------------------------
def host_probe(spark) -> dict[str, float]:
    """Fixed work on the host: a single-core Python loop and a fixed
    Spark aggregate, each the median of three. Host drift moves both;
    a change to the program moves neither."""
    def loop() -> None:
        acc = 0
        for i in range(500_000):
            acc = (acc + i * i) % 1_000_003

    def agg() -> None:
        spark.range(1_000_000, numPartitions=3).selectExpr("sum(id * id % 7)").collect()

    out = {}
    for name, fn in (("python_loop_s", loop), ("spark_agg_s", agg)):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    return out


def disk_bytes(paths: list[str], suffix: str = "") -> int:
    """Bytes of the files under ``paths`` whose names end in ``suffix``,
    each inode counted once (snapshot retention hard-links files)."""
    seen, total = set(), 0
    for top in paths:
        for dirpath, _, files in os.walk(top):
            for name in files:
                if name.endswith(suffix):
                    st = os.stat(os.path.join(dirpath, name))
                    if (st.st_dev, st.st_ino) not in seen:
                        seen.add((st.st_dev, st.st_ino))
                        total += st.st_size
    return total


def count_persistent_rdds(spark) -> int:
    """RDDs still pinned (cached or locally checkpointed) in the session."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
