"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload screen_corpus --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates (or reuses) the seeded
inputs, starts one local Spark session on ``local[<cores>]``, runs one cold
job and then checks its output against the repository's specs, and runs
warm jobs back to back for ``--seconds``, at least ``WARM_JOBS`` of them. Every job runs inside
``session.released`` and is forced through the ``noop`` sink.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced warm jobs and prints the per-layer metrics (medians
over the traced jobs) plus the tracing overhead. Human-readable lines come
first; the last line of stdout is one JSON object. Temp files, the input
cache and Spark's local directories live under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: warm jobs a run makes at least, however short ``--seconds`` is. Warm
#: jobs keep getting cheaper for many jobs (JIT, Python worker reuse), so
#: the gated mean is taken over exactly these first ones in every run
WARM_JOBS = 3


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: index 0 is the
    state, 1 the parent pid, 11-14 utime, stime, cutime, cstime, 19 the
    start time (all times in clock ticks)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(_stat("self")[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants() -> list[int]:
    """Pids of every process below this one: the driver JVM, the Python
    worker daemon and its workers."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat(name)[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and every
    process below it, including exited children their parents reaped."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers): the largest sum of their current resident
    sizes (VmRSS) over polls ``interval`` seconds apart."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kib = max(self.peak_kib, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kib / 1024.0


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile of ``samples`` that
    has at least ten samples beyond it, or None with fewer than 11."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n


def prepare_env(run_dir: str) -> None:
    """Point Spark, its Python workers and temp files at ``run_dir``, a
    directory of this run's own, so runs side by side never share temp
    space."""
    spark_local, tmp = os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")
    for d in (spark_local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def setup_session(tables: list[tuple[str, list[str]]]):
    """get_spark plus registering every input table, given as
    (directory, table names) pairs. Return the session, the wall time of
    get_spark, and the CPU time the whole set-up used in this process and
    the processes below it: with no JVM running, that is the JVM launch,
    the session start and the table registration."""
    from polars_quant_spark.session import get_spark
    from polars_quant_spark.sources.bars import load_table

    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t_session = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    for data_dir, names in tables:
        for name in names:
            load_table(spark, data_dir, name)
    return spark, t_session, tree_cpu_s() - cpu0


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_job(spark, wl, contexts, tracer, after=None) -> tuple[float, float, dict[str, float]]:
    """Build and force one job, part by part; return its wall time, the
    CPU time its processes used, and each part's wall time.
    ``after(frames)`` runs untimed once the actions are done, while the
    job's pins live; ``frames`` maps each part to its frames, which it
    computes again."""
    from polars_quant_spark.session import released

    tracer.start_job()
    frames: dict[str, dict] = {}
    part_s: dict[str, float] = {}
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with released(spark):
        with tracer.span("job", group=True):
            for part in wl.parts:
                t_part = time.perf_counter()
                outputs, frames[part.name] = part.build(contexts[part.name])
                for name, df in outputs.items():
                    with tracer.span(f"exec.{name}", group=True):
                        df.write.format("noop").mode("overwrite").save()
                part_s[part.name] = time.perf_counter() - t_part
            tracer.record_pinned()
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if after is not None:
            after(frames)
    return elapsed, cpu, part_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "polars_quant_spark")):
        print(f"polars_quant_spark not found next to {os.path.dirname(__file__)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context

    # the query registry imports every layer module; its import cost stays
    # out of every metric, as pyspark's does
    import polars_quant_spark.queries  # noqa: F401

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    load_start = loadavg()
    steal_start = cpu_steal_ticks()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir)
    nproc = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    part_inputs = {
        part.name: inputs.materialize(
            os.path.join(WORK, "data"), args.seed, max(4, nproc), part.bars, part.corpus
        )
        for part in wl.parts
    }
    gen_s = time.perf_counter() - t0
    tables = [(d, list(man["tables"])) for d, man in part_inputs.values()]

    spark, session_s, setup_cpu_s = setup_session(tables)
    cold_setup_s = process_age_s() - gen_s
    if args.trace:
        # plan node descriptions must name every output column for the
        # layer rules to tell operators apart
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    rss = RssSampler()
    rss.start()

    rng = random.Random(args.seed)
    tracer = Tracer(spark, enabled=False)
    contexts = {}
    for part in wl.parts:
        data_dir, manifest = part_inputs[part.name]
        ctx = contexts[part.name] = Context(spark, data_dir, manifest, tracer)
        if part.bars:
            n_sym = part.bars.symbols
            ctx.sample = sorted(f"S{i:05d}" for i in rng.sample(range(n_sym), min(3, n_sym // 2)))

    attempted = failed = 0
    errors: list[str] = []

    def one(after=None) -> tuple[float, float, dict] | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            return run_job(spark, wl, contexts, tracer, after)
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, the loop goes on
            failed += 1
            errors.append(f"job {attempted}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    check_errors = ["the checked job did not complete"]
    check_s: dict[str, float] = {}

    def check(frames: dict) -> None:
        nonlocal check_errors
        check_errors = []
        for part in wl.parts:
            t0 = time.perf_counter()
            try:
                check_errors += part.check(contexts[part.name], frames[part.name])
            except Exception as exc:  # noqa: BLE001 - a crashing check is a failed check
                check_errors.append(f"{part.name} check raised {type(exc).__name__}: {exc}")
            check_s[part.name] = time.perf_counter() - t0

    first = one(after=check)
    first_job_s, first_job_cpu_s, first_parts = first if first else (None, None, {})
    attempted += 1  # the check is an attempt of its own
    if check_errors:
        failed += 1
        errors += check_errors
    warm: list[float] = []
    warm_cpu: list[float] = []
    warm_parts: dict[str, list[float]] = {part.name: [] for part in wl.parts}
    traced_s: list[float] = []
    per_job_layers: list[dict[str, float]] = []
    t_loop = time.perf_counter()
    k = 0
    while time.perf_counter() - t_loop < args.seconds or k < WARM_JOBS:
        tracer.enabled = bool(args.trace) and k % 2 == 0
        if tracer.enabled:
            cg0 = tracer.codegen_ms()
        res = one()
        if res is not None and tracer.enabled:
            traced_s.append(res[0])
            try:
                per_job_layers.append(layers.collect(tracer, wl, contexts, cg0))
            except Exception as exc:  # noqa: BLE001 - an unreadable trace fails the run
                failed += 1
                errors.append(f"trace readout: {type(exc).__name__}: {exc}")
        elif res is not None:
            warm.append(res[0])
            warm_cpu.append(res[1])
            for name, dt in res[2].items():
                warm_parts[name].append(dt)
        k += 1
    tracer.enabled = False
    peak_rss_mb = rss.stop()

    checked = not check_errors

    spark.stop()
    stop_jvm()
    load_end = loadavg()
    steal_end = cpu_steal_ticks()
    shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"error: {e}", file=sys.stderr)
    if not warm or first_job_s is None:
        print("no successful warm job; no result", file=sys.stderr)
        return 1

    p50 = statistics.median(warm)
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": nproc,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "cpu_steal_share": (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1]),
        "gen_s": gen_s,
        "cold_setup_s": cold_setup_s,
        "inputs": {name: man["tables"] for name, (_, man) in part_inputs.items()},
        "warm_jobs_s": warm,
        "warm_jobs_cpu_s": warm_cpu,
        "warm_parts_s": warm_parts,
        "first_parts_s": first_parts,
        "error_rate": failed / attempted,
        "checked": checked,
        "check_s": check_s,
    }
    t = tail(warm)
    print(f"# {json.dumps(info)}")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(f"first_job_s {first_job_s:.4f} s")
    print(f"job_s.p50 {p50:.4f} s (n={len(warm)})")
    for name, vals in warm_parts.items():
        print(f"part.{name}_s.p50 {statistics.median(vals):.4f} s (n={len(vals)})")
    if t is None:
        print(f"job_s.tail n/a s (n={len(warm)}; needs 11 samples)")
    else:
        print(f"job_s.tail {t[0]:.4f} s (p{t[1]:.0f}, n={len(warm)})")
    print(f"peak_rss_mb {peak_rss_mb:.1f} MiB")

    if args.trace:
        if not per_job_layers:
            print("no traced job completed; no result", file=sys.stderr)
            return 1
        metrics = layers.summarize(per_job_layers)
        metrics["session.start_s"] = {"value": session_s, "unit": "s"}
        metrics["memory.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MiB"}
        metrics["trace.overhead_s"] = {
            "value": statistics.median(traced_s) - p50, "unit": "s"
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json"), "w") as fh:
            json.dump([s.__dict__ for s in tracer.spans], fh)
    else:
        metrics = {
            "setup_s": {"value": setup_cpu_s, "unit": "s"},
            "first_job_cpu_s": {"value": first_job_cpu_s, "unit": "s"},
            "job_cpu_s.mean": {"value": statistics.mean(warm_cpu[:WARM_JOBS]), "unit": "s"},
        }
    listed = layers.SPEC["per_layer" if args.trace else "end_to_end"]
    if {n: m["unit"] for n, m in metrics.items()} != {m["name"]: m["unit"] for m in listed}:
        print("the metrics differ from those BENCHMARK.json lists; no result", file=sys.stderr)
        return 1
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": checked and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
