"""Spans around the calls a job makes, and Spark's status store read back
per job group.

A traced job opens one root span; each call into a layer opens a child
span. A span opened with ``group=True`` also tags the Spark jobs started
inside it with its own job group, so after the job the benchmark can ask
Spark which jobs, stages and SQL plan nodes belong to that span.

Three sources are read, all of which work with ``spark.ui.enabled=false``:

* stages: ``statusTracker().getJobIdsForGroup`` then
  ``statusStore().lastStageAttempt`` (run time, CPU time, GC, shuffle,
  spill, peak execution memory);
* SQL plan nodes: ``SQLAppStatusStore.planGraph`` for each execution whose
  jobs belong to the group. Metric values are read raw from
  ``AccumulatorContext`` while the accumulator is still registered, and
  otherwise parsed from the rendered total that ``executionMetrics``
  returns (``parse_rendered``);
* codegen: the ``CodegenMetrics`` compilation-time histogram.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: a plan node is on the Python boundary when it carries this metric
PYTHON_SENT = "data sent to Python workers"

_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}
_TIME_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_TOTAL_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_rendered(metric_type: str, text: str) -> float:
    """Total of one rendered SQL metric, in raw units: bytes for ``size``,
    milliseconds for ``timing`` and ``nsTiming`` (Spark renders both in
    ms), a count for ``sum``.

    Spark renders either a bare total (``"0 ms"``, ``"100,000"``) or a
    header line followed by ``"<total> (<min>, <med>, <max> ...)"``; the
    total is the first figure of the last line."""
    if metric_type == "average":
        raise ValueError("average metrics carry no total")
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if not m:
        raise ValueError(f"unparseable {metric_type} metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        if unit not in _SIZE_UNITS:
            raise ValueError(f"unknown size unit in {text!r}")
        return number * _SIZE_UNITS[unit]
    if metric_type in ("timing", "nsTiming"):
        if unit not in _TIME_UNITS_MS:
            raise ValueError(f"unknown time unit in {text!r}")
        return number * _TIME_UNITS_MS[unit]
    if metric_type == "sum":
        if unit:
            raise ValueError(f"unexpected unit in sum metric {text!r}")
        return number
    raise ValueError(f"unknown metric type {metric_type!r}")


def raw_to_base(metric_type: str, value: float) -> float:
    """Raw accumulator value in the units ``parse_rendered`` returns."""
    return value / 1e6 if metric_type == "nsTiming" else float(value)


@dataclass
class PlanNode:
    name: str
    desc: str
    cluster: str | None  # WholeStageCodegen cluster the node sits in
    cluster_ms: float  # that cluster's duration
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass(frozen=True)
class NodeRule:
    """Claims for ``layer`` the plan nodes whose name fully matches the
    regular expression ``node`` and whose description contains ``marker``."""

    layer: str
    node: str
    marker: str = ""


class AttributionError(RuntimeError):
    pass


def attribute(nodes: list[PlanNode], rules: list[NodeRule]) -> dict[str, list[PlanNode]]:
    """Assign plan nodes to layers, first matching rule wins.

    A rule that claims no node raises: reading an absent operator as zero
    would hide a plan change. So does a Python-boundary node that no rule
    claims, since its time would otherwise be charged to nobody."""
    out: dict[str, list[PlanNode]] = {r.layer: [] for r in rules}
    hits = {r: 0 for r in rules}
    for node in nodes:
        rule = next(
            (r for r in rules if re.fullmatch(r.node, node.name) and r.marker in node.desc),
            None,
        )
        if rule is not None:
            out[rule.layer].append(node)
            hits[rule] += 1
        elif PYTHON_SENT in node.metrics:
            raise AttributionError(
                f"Python-boundary node {node.name!r} matched no layer rule: {node.desc[:200]!r}"
            )
    empty = [r for r, n in hits.items() if n == 0]
    if empty:
        raise AttributionError(f"layer rules matched no plan node: {empty}")
    return out


def metric_total(nodes: list[PlanNode], name: str) -> float:
    return sum(n.metrics.get(name, 0.0) for n in nodes)


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    group: str | None
    job: int


class Tracer:
    """Records spans for traced jobs; every method is a no-op when disabled."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._job = -1
        self._sql_last_id = -1
        self.pinned_bytes = 0.0

    def start_job(self) -> None:
        self._job += 1
        if self.enabled:
            self._sql_last_id = self._last_execution_id()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        sql = self._sql_store()
        count = int(sql.executionsCount())
        if count == 0:
            return -1
        return int(sql.executionsList(count - 1, 1).apply(0).executionId())

    def _executions_since_job_start(self) -> list:
        """SQL executions newer than the last one seen when the job began,
        read backwards from the newest (the store evicts the oldest)."""
        sql = self._sql_store()
        out = []
        end = int(sql.executionsCount())
        while end > 0:
            lo = max(0, end - 32)
            chunk = _seq(sql.executionsList(lo, end - lo))
            fresh = [e for e in chunk if int(e.executionId()) > self._sql_last_id]
            out.extend(fresh)
            if len(fresh) < len(chunk):
                break
            end = lo
        return out

    @contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        prev_group = self.spans[parent].group if parent is not None else None
        gid = f"pb{self._job}/{name}" if group else prev_group
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), None, parent, gid, self._job))
        self._stack.append(idx)
        if group:
            sc.setLocalProperty("spark.jobGroup.id", gid)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def record_pinned(self) -> None:
        """Bytes held by persisted RDDs right now (memory plus disk); call
        after a job's actions, before its pins are released."""
        if not self.enabled:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.pinned_bytes = float(sum(i.memSize() + i.diskSize() for i in infos))

    # ------------------------------------------------------------------ reads

    def job_spans(self, job: int | None = None) -> list[Span]:
        job = self._job if job is None else job
        return [s for s in self.spans if s.job == job]

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its direct children's intervals."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx and c.end is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s.end - s.start) - covered

    def span_seconds(self, name: str, self_only: bool = False) -> float:
        """Summed duration (or self time) of this job's spans called ``name``."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.job == self._job and s.name == name:
                total += self.self_time(i) if self_only else s.end - s.start
        return total

    def groups(self) -> list[str]:
        return sorted({s.group for s in self.job_spans() if s.group})

    def job_ids(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tot = dict.fromkeys(
            ["stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
             "shuffle_read_bytes", "shuffle_write_ns", "spill_bytes", "peak_mem_bytes"],
            0.0,
        )
        seen: set[int] = set()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["run_ms"] += sd.executorRunTime()
                tot["cpu_ns"] += sd.executorCpuTime()
                tot["gc_ms"] += sd.jvmGcTime()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_ns"] += sd.shuffleWriteTime()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["peak_mem_bytes"] += sd.peakExecutionMemory()
        return tot

    def plan_nodes(self, job_ids: list[int]) -> list[PlanNode]:
        """Plan nodes of every SQL execution that ran any of ``job_ids``.

        A cached or checkpointed subplan is drawn again inside every plan
        that reads it; such copies share accumulators with the original
        node and are kept once."""
        jvm = self.spark._jvm
        acc = jvm.org.apache.spark.util.AccumulatorContext
        sql = self._sql_store()
        wanted = set(job_ids)
        nodes: list[PlanNode] = []
        seen: set[tuple] = set()
        for ex in self._executions_since_job_start():
            if not ({int(j) for j in _seq(ex.jobs().keys())} & wanted):
                continue
            eid = ex.executionId()
            graph = sql.planGraph(eid)
            rendered = sql.executionMetrics(eid)
            for top in _seq(graph.nodes()):
                members = [(top, None, 0.0)]
                if top.getClass().getSimpleName() == "SparkPlanGraphCluster":
                    cl_ms = _read_metrics(top, acc, rendered).get("duration", 0.0)
                    members = [(c, top.name(), cl_ms) for c in _seq(top.nodes())]
                for node, cluster, cl_ms in members:
                    ids = tuple(sorted(m.accumulatorId() for m in _seq(node.metrics())))
                    if ids and ids in seen:
                        continue
                    seen.add(ids)
                    nodes.append(_node(node, cluster, cl_ms, acc, rendered))
        return nodes

    def codegen_ms(self) -> float:
        """Summed compile time of every class generated so far, from Spark's
        codegen histogram: exact while its reservoir (1028 samples) still
        holds every sample, count x mean after that."""
        h = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        count = int(h.getCount())
        snap = h.getSnapshot()
        if count <= snap.size():
            return float(sum(snap.getValues()))
        return count * float(snap.getMean())


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _read_metrics(node, acc, rendered) -> dict[str, float]:
    out: dict[str, float] = {}
    for m in _seq(node.metrics()):
        mtype = m.metricType()
        if mtype == "average":
            continue
        live = acc.get(m.accumulatorId())
        if live.isDefined():
            val = raw_to_base(mtype, float(live.get().value()))
        else:
            text = rendered.get(m.accumulatorId())
            val = parse_rendered(mtype, text.get()) if text.isDefined() else 0.0
        out[m.name()] = out.get(m.name(), 0.0) + val
    return out


def _node(node, cluster, cluster_ms, acc, rendered) -> PlanNode:
    return PlanNode(
        name=node.name().strip(),
        desc=node.desc(),
        cluster=cluster,
        cluster_ms=cluster_ms,
        metrics=_read_metrics(node, acc, rendered),
    )
