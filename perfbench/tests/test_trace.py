"""Pins the status-store readout the per-layer metrics rest on.

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    PYTHON_SENT,
    AttributionError,
    NodeRule,
    PlanNode,
    Tracer,
    attribute,
    parse_rendered,
)

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize(
    "mtype, text, want",
    [
        ("timing", HEADER + "5.2 s (2.6 s, 2.6 s, 2.6 s (stage 3.0: task 7))", 5200.0),
        ("timing", "131 ms", 131.0),
        ("timing", "0 ms", 0.0),
        ("timing", HEADER + "1.5 m (10 ms, 20 ms, 1.4 m (stage 1.0: task 2))", 90_000.0),
        ("nsTiming", HEADER + "4 ms (0 ms, 1 ms, 1 ms (stage 36.0: task 57))", 4.0),
        ("size", HEADER + "1020.8 KiB (234.7 KiB, 262.5 KiB, 270.0 KiB (stage 40.0: task 61))",
         1020.8 * 1024),
        ("size", "0.0 B", 0.0),
        ("size", "2.2 MiB", 2.2 * 1024 * 1024),
        ("sum", "100,000", 100_000.0),
        ("sum", "4", 4.0),
    ],
)
def test_parse_rendered_reads_the_total(mtype, text, want):
    assert parse_rendered(mtype, text) == pytest.approx(want)


@pytest.mark.parametrize(
    "mtype, text",
    [
        ("average", "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 40.0: task 64))"),
        ("size", "12 parsecs"),
        ("timing", "12 fortnights"),
        ("sum", "3 ms"),
        ("timing", "n/a"),
        ("bogus", "1"),
    ],
)
def test_parse_rendered_rejects_what_it_cannot_read(mtype, text):
    with pytest.raises(ValueError):
        parse_rendered(mtype, text)


def _node(name, desc="", **metrics):
    return PlanNode(name=name, desc=desc, cluster=None, cluster_ms=0.0, metrics=metrics)


def test_rule_matching_nothing_raises_instead_of_reading_zero():
    nodes = [_node("Sort"), _node("Exchange", "hashpartitioning(symbol#1, 4)")]
    with pytest.raises(AttributionError, match="matched no plan node"):
        attribute(nodes, [NodeRule("operators.chunked", "Exchange", "_ck#")])


def test_unclaimed_python_node_raises():
    nodes = [_node("FlatMapGroupsInArrow", "run(symbol#1)", **{PYTHON_SENT: 10.0})]
    with pytest.raises(AttributionError, match="Python-boundary node"):
        attribute(nodes, [])


def test_first_matching_rule_claims_the_node():
    fold = _node("FlatMapGroupsInArrow", "run(ema#3, macd_dif#4), [n_trades#9]", **{PYTHON_SENT: 1.0})
    rec = _node("FlatMapGroupsInArrow", "run(close#2), [macd_dif#4]", **{PYTHON_SENT: 2.0})
    join = _node("BroadcastHashJoin", "[symbol#1, _rn#5]")
    out = attribute(
        [fold, rec, join, _node("Project")],
        [
            NodeRule("backtest.vectorized", "FlatMapGroupsInArrow", "n_trades#"),
            NodeRule("operators.recurrence", "FlatMapGroupsInArrow", "macd_dif#"),
            NodeRule("segmented.join_back", "SortMergeJoin|BroadcastHashJoin", "_rn#"),
        ],
    )
    assert out["backtest.vectorized"] == [fold]
    assert out["operators.recurrence"] == [rec]
    assert out["segmented.join_back"] == [join]


class _StubContext:
    def setLocalProperty(self, key, value):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(_StubSpark(), enabled=False)
    tr.start_job()  # disabled: no status store to read here
    tr.enabled = True
    with tr.span("job"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    root, a, b = tr.spans
    # pin the clock: job [0, 10], children [1, 4] and [3, 6] overlap
    root.start, root.end = 0.0, 10.0
    a.start, a.end = 1.0, 4.0
    b.start, b.end = 3.0, 6.0
    assert tr.self_time(0) == pytest.approx(5.0)
    assert tr.span_seconds("a") == pytest.approx(3.0)


pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tmp = str(tmp_path_factory.mktemp("spark-local"))
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_store_readout_of_a_python_group_job(spark):
    """Raw accumulator values agree with the rendered totals, and the
    Python node, its bytes and the job's stages are all found."""
    import pyarrow as pa

    def run(tbl: pa.Table) -> pa.Table:
        return tbl.append_column("y", pa.array([1.0] * tbl.num_rows))

    df = spark.range(0, 5000).selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) AS x")
    tr = Tracer(spark, enabled=True)
    tr.start_job()
    with tr.span("job", group=True):
        df.groupBy("k").applyInArrow(run, "k long, x double, y double").write.format(
            "noop"
        ).mode("overwrite").save()
    tr.drain()
    jobs = [j for g in tr.groups() for j in tr.job_ids(g)]
    assert jobs
    nodes = tr.plan_nodes(jobs)
    out = attribute(nodes, [NodeRule("udf", "FlatMapGroupsInArrow")])
    (py,) = out["udf"]
    assert py.metrics[PYTHON_SENT] > 0
    assert py.metrics["number of output rows"] == 5000

    sql = spark._jsparkSession.sharedState().statusStore()
    ex = sql.executionsList(int(sql.executionsCount()) - 1, 1).apply(0)
    rendered = sql.executionMetrics(ex.executionId())
    checked = 0
    it = sql.planGraph(ex.executionId()).allNodes().iterator()
    acc = spark._jvm.org.apache.spark.util.AccumulatorContext
    while it.hasNext():
        node = it.next()
        mit = node.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.metricType() not in ("size", "sum") or not rendered.get(m.accumulatorId()).isDefined():
                continue
            live = acc.get(m.accumulatorId())
            if not live.isDefined():
                continue
            raw = float(live.get().value())
            text = rendered.get(m.accumulatorId()).get()
            # sizes render to 0.1 of their unit; sums exactly
            assert parse_rendered(m.metricType(), text) == pytest.approx(raw, rel=0.05, abs=0.06 * 1024)
            checked += 1
    assert checked > 0

    st = tr.stage_totals(jobs)
    assert st["stages"] >= 1 and st["tasks"] >= 2
    assert st["run_ms"] > 0
