"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The launcher pins the run environment
(``PYTHONPATH`` for Spark's Python workers, ``SPARK_LOCAL_DIRS``, the
temp dirs, ``local[<cores>]``, a 2 GB driver heap), wipes the per-run work
directory ``.perfbench_work/`` so runs never read each other's lakes, and
then drives one workload from this process: one Spark session, one
client, no extra threads.

A run has three phases:

- set-up: three times, start a Spark session and write the seeded inputs
  (the first start also launches the JVM), then one checked warm-up.
  ``setup_s`` is the CPU time of the median start plus the warm-up.
- timed: whole cycles of the workload's fixed operation sequence until
  ``--seconds`` have passed. Every result is checked. Each operation is
  timed in wall seconds and in CPU seconds of this process tree, and is
  followed by one sample of a fixed calibration read (``calibrate``).
- report: the last stdout line is the result object. With ``--trace 0`` it
  carries the end-to-end metrics: CPU times rescaled by the calibration
  to one reference host speed. With ``--trace 1`` every span runs under
  its own job group and the per-layer metrics are reported instead. A
  detail line before it gives the raw figures, per operation and kind.

The exit code is 1 if any operation failed or any check mismatched.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "polygon_io_data_ingestion_pipeline_spark"
SETUPS = 3
#: partitions of the calibration table: one small file per directory, the
#: shape of a lake's ticker-month partitions
CALIBRATION_PARTS = 40
#: CPU seconds of one calibration sample at the reference host speed: the
#: fastest state of the 4-vCPU VM the first baseline was taken on. Frozen:
#: changing it rescales every gated metric.
REF_CALIBRATION_CPU_S = 0.5
#: for the run's wall time in the detail line
RUN_START = time.perf_counter()


def pin_environment(cores: int) -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the package (mapInPandas refdata
    # pulls, media lanes): without the checkout on their path they fail
    # with ModuleNotFoundError when the run starts outside the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the session warehouse lands here
    os.chdir(WORK)


def write_calibration_table(path: str) -> None:
    """The calibration read's input, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = pa.table({"x": list(range(20)), "y": [float(i) for i in range(20)]})
    for part in range(CALIBRATION_PARTS):
        os.makedirs(os.path.join(path, f"part={part}"))
        pq.write_table(rows, os.path.join(path, f"part={part}", "data.parquet"))


def calibrate(spark, table: str, i: int) -> float:
    """Process-tree CPU seconds of one fixed Spark read: partition
    discovery over the calibration table, one partition kept, collected.
    It runs no program code, so it measures how fast the host runs this
    kind of work at that moment: per-job Spark overhead, file listing and
    small Parquet reads, which is what the program's operations are made
    of at this size."""
    from workloads import tree_cpu_s

    c0 = tree_cpu_s()
    spark.read.parquet(table).filter(f"part = {i % CALIBRATION_PARTS}").select("y").collect()
    return tree_cpu_s() - c0


def percentile_tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile that still has at
    least ten samples above it; None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    ordered = sorted(values)
    return pct, ordered[max(0, math.ceil(pct / 100 * n) - 1)]


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the run
    holds on to (persisted blocks, caches, status records), without the
    garbage the collector had not reclaimed yet."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def kind_stats(ops, scale: float) -> dict:
    """Per operation kind: wall, CPU and reference-CPU medians; ``scale``
    turns CPU time into reference CPU time."""
    by_kind: dict[str, list] = {}
    for op in ops:
        if op.ok:
            by_kind.setdefault(op.kind, []).append(op)
    out = {}
    for kind, kops in by_kind.items():
        ms = [op.seconds * 1000 for op in kops]
        cpu_ms = [op.cpu_s * 1000 for op in kops]
        tail = percentile_tail(ms)
        out[kind] = {
            "n": len(ms),
            "p50_ms": statistics.median(ms),
            "tail": None if tail is None else {"percentile": tail[0], "ms": tail[1]},
            "cpu_p50_ms": statistics.median(cpu_ms),
            "refcpu_p50_ms": statistics.median(cpu_ms) * scale,
        }
    return out


def geomean(stats: dict, key: str) -> float:
    """Geometric mean over operation kinds of one per-kind figure: a slow
    small kind stays visible beside a long build."""
    return statistics.geometric_mean(v[key] for v in stats.values())


def journey_metrics(warm, stats: dict, failed: int, attempted: int) -> dict:
    """Wall-time journey figures, by the names perfbench/README.md uses."""
    out: dict[str, float | None] = {"failed_ratio": failed / attempted}
    for op in warm:
        if op.kind == "prebuild":
            out["build_s"] = op.seconds
    names = {
        "update": "update_s",
        "point": "point_load_p50_ms",
        "range": "range_load_p50_ms",
        "corpus": "corpus_s",
    }
    for kind, name in names.items():
        if kind in stats:
            v = stats[kind]["p50_ms"]
            out[name] = v / 1000 if name.endswith("_s") else v
    if "point" in stats:
        out["point_load_tail_ms"] = stats["point"]["tail"]
    plans = [v["p50_ms"] / 1000 for k, v in stats.items() if k not in names]
    if plans:
        out["registry_total_s"] = sum(plans)
        out["registry_geomean_s"] = statistics.geometric_mean(plans)
    return out


def unit_of(metric: str) -> str:
    if metric.endswith("_pct"):
        return "%"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_kb_after"):
        return "kB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("_util", "_per_row")):
        return "ratio"
    return "count"


def layer_metrics(tr, wall: float, cycles: int, cores: int, plans) -> dict[str, float]:
    """Per-layer figures over the timed spans. Times are shares (%) of the
    timed wall; counts are per cycle."""

    def pct(layer: str) -> float:
        return 100 * sum(s.seconds for s in tr.timed(layer)) / wall

    def per_cycle(layer: str, key: str, name: str | None = None) -> float:
        spans = [s for s in tr.timed(layer) if name is None or s.name == name]
        return sum(tr.inclusive(s)[key] for s in spans) / cycles

    def extra(layer: str, key: str) -> float:
        return sum(s.extra.get(key, 0) for s in tr.timed(layer)) / cycles

    def cpu_pct(layer: str) -> float:
        """Task CPU of the layer's spans, as a share of every core over the
        timed wall."""
        return 100 * per_cycle(layer, "cpu_ms") * cycles / 1000 / (wall * cores)

    timed = [s for s in tr.spans if s.phase == "timed"]
    returned = extra("series.collect", "rows")
    m = {
        "csv_bars.plan_pct": pct("csv_bars"),
        "csv_bars.jobs": per_cycle("csv_bars", "jobs"),
        "csv_bars.files": extra("csv_bars", "files"),
        "lake.write_pct": pct("lake.write"),
        "lake.write_stages": per_cycle("lake.write", "stages"),
        "lake.files_written": extra("lake.write", "files"),
        "lake.shuffle_write_mb": per_cycle("lake.write", "shuffle_write_bytes") / 1e6,
        "lake.read_plan_pct": pct("lake.read"),
        "lake.read_jobs": per_cycle("lake.read", "jobs"),
        "series.load_pct": pct("series.load"),
        "series.collect_pct": pct("series.collect"),
        "series.input_rows_per_row": (
            per_cycle("series.collect", "input_records") / returned if returned else 0.0
        ),
        "rest.pull_pct": pct("rest"),
        "rest.calls": extra("rest", "calls"),
        "factors.adjust_pct": pct("factors"),
        "factors.stages": per_cycle("factors", "stages"),
        "factors.shuffle_mb": (
            per_cycle("factors", "shuffle_write_bytes") + per_cycle("factors", "shuffle_read_bytes")
        )
        / 1e6,
        "factors.cpu_pct": cpu_pct("factors"),
    }
    for q in plans:
        m[f"registry.{q}_pct"] = (
            100 * sum(s.seconds for s in tr.timed("registry") if s.name == q) / wall
        )
        m[f"registry.{q}_stages"] = per_cycle("registry", "stages", q)
    reg_wall = sum(s.seconds for s in tr.timed("registry"))
    m["registry.cpu_util"] = (
        per_cycle("registry", "cpu_ms") * cycles / 1000 / (reg_wall * cores) if reg_wall else 0.0
    )
    m.update(
        {
            "corpus.jobs": per_cycle("corpus", "jobs"),
            "corpus.stages": per_cycle("corpus", "stages"),
            "corpus.input_mb": per_cycle("corpus", "input_bytes") / 1e6,
            "corpus.cpu_pct": cpu_pct("corpus"),
            "spark.jobs": sum(s.counters["jobs"] for s in timed) / cycles,
            "spark.stages": sum(s.counters["stages"] for s in timed) / cycles,
            "spark.cpu_util": sum(s.counters["cpu_ms"] for s in timed) / 1000 / (wall * cores),
        }
    )
    # persist-leak probe: what is still held each time an operation returns
    probes = [p for p in tr.probes if p["phase"] == "timed"]
    m["spark.persisted_rdds_after"] = statistics.mean(p["rdds"] for p in probes)
    m["spark.storage_kb_after"] = statistics.mean(p["bytes"] for p in probes) / 1e3
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import REGISTRY_PLANS, WORKLOADS, tree_cpu_s

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    pin_environment(cores)

    from spans import Tracer

    from polygon_io_data_ingestion_pipeline_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, WORK)
    spark = None
    starts: list[float] = []
    starts_cpu: list[float] = []
    for _ in range(SETUPS):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        wl.generate()
        starts.append(time.perf_counter() - t0)
        starts_cpu.append(tree_cpu_s() - c0)
    gateway_proc = spark.sparkContext._gateway.proc
    try:
        tr = Tracer(spark, enabled=bool(args.trace))
        wl.bind(spark, tr)
        warm = wl.warm_up()
        tr.probe_persisted("setup")
        setup_cpu_s = statistics.median(starts_cpu) + sum(op.cpu_s for op in warm)

        table = os.path.join(WORK, "calibration")
        write_calibration_table(table)
        # the first read compiles the job; it is not a sample
        calibrate(spark, table, 0)
        calib = [calibrate(spark, table, 1)]

        tr.phase = "timed"
        cpu_before = cpu_times()
        ops, cycles = [], []
        t_start = time.perf_counter()
        while not cycles or (
            time.perf_counter() - t_start < args.seconds and len(cycles) < wl.MAX_CYCLES
        ):
            steps = wl.cycle(len(cycles))
            cycles.append(range(len(ops), len(ops) + len(steps)))
            for step in steps:
                ops.append(step())
                calib.append(calibrate(spark, table, len(calib) + 1))
        # CPU time the hypervisor gave to other guests while we measured
        cpu_delta = [b - a for a, b in zip(cpu_before, cpu_times())]
        tr.phase = "report"
        rss = peak_rss_mb(spark)
        heap = retained_heap_mb(spark)

        # reference CPU time: CPU time rescaled to the host speed at which
        # a calibration sample takes REF_CALIBRATION_CPU_S
        scale = REF_CALIBRATION_CPU_S / statistics.median(calib)
        cycle_s = [sum(ops[i].seconds for i in c) for c in cycles]
        cycle_cpu_s = [sum(ops[i].cpu_s for i in c) for c in cycles]
        wall = sum(cycle_s)
        attempted = len(warm) + len(ops)
        failed = sum(not op.ok for op in warm + ops)
        stats = kind_stats(ops, scale)
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "cores": cores,
            "cycles": len(cycle_s),
            "cycle_s": cycle_s,
            "cycle_cpu_s": cycle_cpu_s,
            "setup_cpu_s": setup_cpu_s,
            "calibration_cpu_s": calib,
            "session_starts_s": starts,
            "session_starts_cpu_s": starts_cpu,
            "warm_up_s": sum(op.seconds for op in warm),
            "setup_wall_s": statistics.median(starts) + sum(op.seconds for op in warm),
            "steal_pct": 100 * cpu_delta[7] / max(1, sum(cpu_delta)),
            "peak_rss_mb": rss,
            "retained_heap_mb": heap,
            "kinds": stats,
            "ops": [[op.kind, op.seconds, op.cpu_s, op.ok] for op in warm + ops],
            "journey": journey_metrics(warm, stats, failed, attempted),
            "failures": wl.failures,
            **wl.detail(),
        }
        if args.trace:
            layers = layer_metrics(tr, wall, len(cycle_s), cores, REGISTRY_PLANS)
            layers["trace.cycle_s"] = statistics.median(cycle_s)
            layers["trace.cycle_refcpu_s"] = statistics.median(cycle_cpu_s) * scale
            layers["jvm.peak_rss_mb"] = rss
            layers["jvm.retained_heap_mb"] = heap
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
            tr.dump(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
        else:
            metrics = {
                "cycle_refcpu_s": {"value": statistics.median(cycle_cpu_s) * scale, "unit": "s"},
                "op_refcpu_geomean_ms": {"value": geomean(stats, "refcpu_p50_ms"), "unit": "ms"},
                "setup_s": {"value": setup_cpu_s * scale, "unit": "s"},
            }
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        # the JVM exits when its stdin closes; wait until it has
        gateway_proc.stdin.close()
        try:
            gateway_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()

    detail["run_wall_s"] = time.perf_counter() - RUN_START
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
