"""Measurement from outside the program: spans, job groups, JVM
counters, the Spark event log and process-tree CPU and memory.

Nothing here changes the program.  Spans wrap the calls the
benchmark makes into each layer, plus, while a traced ETL pass runs,
the names ``cli.main`` looks up in its own module (``get_spark``,
``raw_from_cell_grids``, ``extract_all``, ``write_all_entities``).
Each span runs its Spark jobs under its own job group, so the event
log, parsed after the session stops, attributes jobs, stages, tasks,
input, shuffle, spill and raw-scan rows to the span that caused them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: Spark confs of a traced session: one uncompressed event-log file
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}


# ---------------------------------------------------------------------------
# process tree (this interpreter, the JVM it launched, Python workers)
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # ended while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    counting reaped children of each."""
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of the resident-set high-water marks of the process tree."""
    kb = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def host_calib_ms(n: int = 400_000) -> float:
    """Time of a fixed pure-Python loop: moves with host speed only."""
    start = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - start) * 1000


# ---------------------------------------------------------------------------
# JVM counters over py4j
# ---------------------------------------------------------------------------


class JvmCounters:
    """JIT compile time, GC time and whole-stage codegen compiles of
    the driver JVM, read through its management beans."""

    def __init__(self, spark):
        jvm = spark._jvm
        factory = jvm.java.lang.management.ManagementFactory
        self._jit = factory.getCompilationMXBean()
        self._gcs = list(factory.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict[str, float]:
        return {
            "jit_s": self._jit.getTotalCompilationTime() / 1000,
            "gc_s": sum(b.getCollectionTime() for b in self._gcs) / 1000,
            "codegen_compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
        }


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time recorded by the frame's
    phase tracker (the noop write's command shares it)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"e2e-span-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; each runs its Spark jobs under a job group
    named after it, restoring the enclosing span's group on exit."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn, on_call=None):
        """``fn`` run inside a span; ``on_call(span, args, result)``
        may record attributes."""

        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, result)
                return result

        return wrapped

    def descendants(self, root: Span) -> list[Span]:
        ids, out = {root.id}, []
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out


@contextlib.contextmanager
def patched(module, tracer: Tracer, names: dict):
    """Replace ``module.<attr>`` by a traced wrapper for the duration;
    ``names`` maps attr -> (span name, on_call or None)."""
    saved = {attr: getattr(module, attr) for attr in names}
    try:
        for attr, (span_name, on_call) in names.items():
            setattr(module, attr, tracer.wrap(span_name, saved[attr], on_call))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
#: leaf node of a frame made by ``createDataFrame`` from local rows
RAW_SCAN_NODE = "Scan ExistingRDD"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_busy_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    raw_scan_rows: int = 0

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def _raw_scan_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") == RAW_SCAN_NODE:
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m.get("name") == "number of output rows")
    for child in plan.get("children", ()):
        _raw_scan_accumulators(child, out)


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, tasks and their metrics."""
    stage_group: dict[int, str] = {}
    raw_ids: set[int] = set()
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stats[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind in (_SQL_START, _SQL_UPDATE):
                _raw_scan_accumulators(ev["sparkPlanInfo"], raw_ids)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stats[stage_group.get(sid, "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = stats[stage_group.get(ev["Stage ID"], "")]
                st.tasks += 1
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.task_busy_s += (info["Finish Time"] - info["Launch Time"]) / 1000
                st.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.shuffle_write_bytes += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("ID") in raw_ids and "Update" in acc:
                        st.raw_scan_rows += int(acc["Update"])
    return dict(stats)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]
