"""Per-layer metrics of one traced job, read from its spans and from
Spark's status store (see ``trace``).

Every metric below is produced for every workload. A layer the workload
does not enter reads zero, and that zero is checked, not assumed:
``trace.attribute`` raises when a workload's layer rule matches no plan
node, and when a Python-boundary node is claimed by no rule.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import attribute, metric_total

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
#: per-layer metric name -> unit, in print order; BENCHMARK.json is the one list
UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
#: per-layer metrics the run measures itself, outside any one job
RUN_LEVEL = ("session.start_s", "memory.peak_rss_mb", "trace.overhead_s")

RUN_PY = "time to run Python workers"
BOOT_PY = ("time to start Python workers", "time to initialize Python workers")
SENT_PY = "data sent to Python workers"
RECV_PY = "data returned from Python workers"
ROWS = "number of output rows"


def collect(tracer, wl, contexts: dict, codegen_ms_before: float) -> dict[str, float]:
    """Per-layer figures for the job the tracer just finished.
    ``contexts`` maps each part of ``wl`` to its ``workloads.Context``."""
    from perfbench.workloads import REC_USEFUL_ROW_BYTES

    tracer.drain()
    groups = tracer.groups()
    by_group = {g: tracer.job_ids(g) for g in groups}
    all_jobs = sorted({j for ids in by_group.values() for j in ids})
    nodes = tracer.plan_nodes(all_jobs)
    layer = attribute(nodes, wl.rules)
    st = tracer.stage_totals(all_jobs)

    def group_jobs(span_name: str) -> int:
        return sum(len(ids) for g, ids in by_group.items() if g.endswith("/" + span_name))

    m: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    scans = [n for n in nodes if n.name.startswith("Scan ")]
    m["sources.build_s"] = tracer.span_seconds("sources.bars", True)
    m["sources.scan_s"] = metric_total(scans, "scan time") / 1e3
    m["sources.scan_bytes"] = metric_total(scans, "size of files read")
    m["functions.build_s"] = tracer.span_seconds("functions", True)
    m["functions.codegen_s"] = (tracer.codegen_ms() - codegen_ms_before) / 1e3

    rec = layer.get("operators.recurrence", [])
    m["recurrence.python_s"] = metric_total(rec, RUN_PY) / 1e3
    m["recurrence.worker_boot_s"] = sum(metric_total(rec, k) for k in BOOT_PY) / 1e3
    m["recurrence.bytes_to_python"] = metric_total(rec, SENT_PY)
    m["recurrence.bytes_from_python"] = metric_total(rec, RECV_PY)
    m["recurrence.rows_to_python"] = metric_total(rec, ROWS)
    if m["recurrence.bytes_to_python"]:
        m["recurrence.useful_byte_ratio"] = (
            m["recurrence.rows_to_python"] * REC_USEFUL_ROW_BYTES / m["recurrence.bytes_to_python"]
        )

    fold = layer.get("backtest.vectorized", [])
    m["backtest.fold_python_s"] = metric_total(fold, RUN_PY) / 1e3
    m["backtest.fold_bytes_to_python"] = metric_total(fold, SENT_PY)
    m["backtest.summary_build_s"] = tracer.span_seconds("backtest.metrics", True)

    if "operators.segmented" in layer:
        m["segmented.call_s"] = tracer.span_seconds("operators.segmented")
        m["segmented.jobs"] = group_jobs("operators.segmented")
        m["segmented.pinned_bytes"] = tracer.pinned_bytes
        clusters = {(n.cluster, n.cluster_ms) for n in layer["segmented.join_back"] if n.cluster}
        m["segmented.join_back_s"] = sum(ms for _, ms in clusters) / 1e3
    if "operators.chunked" in layer:
        bars = contexts["long_history"].manifest["tables"]["events"]["rows"]
        # rows written into the chunk exchange: its records-read figure
        # counts a row once per consumer that reads the shuffle
        rows_in = metric_total(layer["operators.chunked"], "shuffle records written")
        m["chunked.row_amplification"] = rows_in / bars

    if "dedup.candidates" in layer:
        m["dedup.call_s"] = tracer.span_seconds("operators.dedup")
        m["dedup.jobs"] = group_jobs("operators.dedup")
        cand = min(n.metrics.get(ROWS, 0.0) for n in layer["dedup.candidates"])
        verified = min(n.metrics.get(ROWS, 0.0) for n in layer["dedup.verified"])
        m["dedup.candidate_pairs"] = cand
        m["dedup.pair_yield"] = verified / cand if cand else 0.0

    if "operators.similarity" in layer:
        m["similarity.topk_small_s"] = tracer.span_seconds("similarity.topk_small") + tracer.span_seconds(
            "exec.topk_small"
        )
        m["similarity.topk_large_s"] = tracer.span_seconds("similarity.topk_large") + tracer.span_seconds(
            "exec.topk_large"
        )
        sim = layer["operators.similarity"]
        m["similarity.python_s"] = metric_total(sim, RUN_PY) / 1e3
        m["similarity.ranked_rows"] = metric_total(sim, ROWS) + metric_total(
            layer["similarity.expression"], ROWS
        )
        m["text.exec_s"] = tracer.span_seconds("exec.text")

    m["spark.jobs"] = len(all_jobs)
    m["spark.stages"] = st["stages"]
    m["spark.tasks"] = st["tasks"]
    m["spark.executor_run_s"] = st["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = st["cpu_ns"] / 1e9
    m["spark.cpu_ratio"] = m["spark.executor_cpu_s"] / m["spark.executor_run_s"] if st["run_ms"] else 0.0
    m["spark.gc_s"] = st["gc_ms"] / 1e3
    m["spark.shuffle_write_bytes"] = st["shuffle_write_bytes"]
    m["spark.shuffle_read_bytes"] = st["shuffle_read_bytes"]
    m["spark.shuffle_write_s"] = st["shuffle_write_ns"] / 1e9
    m["spark.spill_bytes"] = st["spill_bytes"]
    m["spark.peak_exec_mem_bytes"] = st["peak_mem_bytes"]
    for run_level in RUN_LEVEL:
        del m[run_level]
    if set(m) | set(RUN_LEVEL) != set(UNITS):
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(set(m) - set(UNITS))}")
    return m


def summarize(per_job: list[dict[str, float]]) -> dict[str, dict]:
    """Median of each per-layer figure over the traced jobs."""
    out = {}
    for name, unit in UNITS.items():
        vals = [job[name] for job in per_job if name in job]
        if vals:
            out[name] = {"value": statistics.median(vals), "unit": unit}
    return out
