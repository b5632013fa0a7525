#!/usr/bin/env python3
"""Benchmark for graphrag_litex_spark: seeded workloads, end-to-end metrics,
and a traced per-layer breakdown.

    python3 perfbench/run.py --workload build_hot --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: build_hot and append_query (see
workloads.py and README.md). Spark runs at local[<cores of this process>]
with a driver heap sized from physical RAM.

The last stdout line is one JSON object with keys correct, attempted,
failed and metrics. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from a traced run. Every file
the benchmark writes stays under perfbench/.cache (seeded inputs, stage
checksums and span dumps per workload and seed) and perfbench/.work
(removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# Input generations per run, taken both before the session starts and
# after it has stopped: apart in time, so that one slow phase of a shared
# host does not set their median, and never beside the JVM's own work.
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the benchmark's own test)")
    return ap.parse_args(argv)


def start_spark(work_dir: str, cores: int):
    """Host-fit session through the program's own get_spark: local[cores],
    driver heap = 1/8 of physical RAM (1-8 GiB), the repo on the Python
    workers' path, and every scratch directory inside the checkout."""
    from graphrag_litex_spark.session import get_spark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = min(8, max(1, round(ram / 2**30 / 8)))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    return spark, heap_gb


def kernel_us_per_turn(texts: list[str]) -> float:
    """The extractor kernel alone (no Spark): median of three passes over
    a fixed sample of the workload's turns."""
    from graphrag_litex_spark.functions.extract import extract_turn_flat

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for t in texts:
            extract_turn_flat(t)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(texts) * 1e6


class Ctx:
    """Run-wide facts the workloads read."""

    def __init__(self, args, cache_dir: str, work_dir: str) -> None:
        self.seed = args.seed
        self.cache_dir = cache_dir
        self.work_dir = work_dir
        self.cores = len(os.sched_getaffinity(0))
        self.first_op_s = 0.0
        self.kernel_us_per_turn = 0.0


def run(args, work_dir: str) -> int:
    from tracing import RssSampler, Tracer, host_probe, stop_spark

    from workloads import SIZES, WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scale = "smoke" if args.smoke else "full"
    cache_dir = os.path.join(HERE, ".cache", f"{args.workload}-{scale}-seed{args.seed}")
    os.makedirs(cache_dir, exist_ok=True)
    ctx = Ctx(args, cache_dir, work_dir)
    wl = WORKLOADS[args.workload](ctx, SIZES[scale][args.workload])

    probes = {"pre": host_probe()}
    wl.prepare(SETUP_REPS)
    if args.trace:
        sample = wl.tables["transcripts"].column("text").to_pylist()[:2000]
        ctx.kernel_us_per_turn = kernel_us_per_turn(sample)

    t0 = time.perf_counter()
    spark, heap_gb = start_spark(work_dir, ctx.cores)
    launch_s = time.perf_counter() - t0
    spark_version = spark.version
    tracer = Tracer(spark, enabled=False)
    wl.attach(spark, tracer)
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            ctx.first_op_s = launch_s + wl.first_op()
            n_ops = 1
            # Operations keep getting faster while the JIT warms up; the
            # traced run compares a traced and an untraced operation only
            # after at least one more warm-up operation.
            for _ in range(max(wl.WARMUP_OPS, args.trace)):
                wl.op()
                n_ops += 1
            wl.reset_stats()
            probes["mid"] = host_probe()
            gc0 = tracer.gc_ms()
            t_loop = time.perf_counter()
            # Closed loop for at least --seconds. The traced run makes one
            # traced and then one untraced operation; their difference is
            # the tracing overhead. The traced one comes first, so that it
            # refreshes a batch every untraced append_query run reaches.
            min_ops = 2 if args.trace else 1
            while len(wl.op_times) < min_ops or time.perf_counter() - t_loop < args.seconds:
                tracer.enabled = bool(args.trace) and len(wl.op_times) == 0
                wl.op_times.append(wl.op())
                n_ops += 1
            tracer.enabled = False
            gc_s = (tracer.gc_ms() - gc0) / 1e3
            wl.check()
            rss.sample()
            if args.trace:
                wl.traced_extras()
        if args.trace:
            tracer.resolve()
            tracer.write(os.path.join(cache_dir, f"spans-{os.getpid()}.json"))
    finally:
        stop_spark(spark)
    wl.prepare(SETUP_REPS)
    probes["post"] = host_probe()

    setup_s = statistics.median(wl.setup_times)
    attempted = wl.attempted + n_ops
    ratio = wl.failed / attempted
    print(
        f"perfbench workload={args.workload} seed={args.seed} cores={ctx.cores} heap={heap_gb}g "
        f"spark={spark_version} ops=" + ",".join(f"{t:.2f}" for t in wl.op_times) + "s "
        + " ".join(f"probe_{k}={v:.3f}s" for k, v in probes.items())
    )
    named = {
        "setup_s": (setup_s, "s"),
        **wl.report(),
        "failed_ops_ratio": (ratio, "ratio"),
        "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
    }
    print("  " + "  ".join(f"{k}={v:.4g} {u}" for k, (v, u) in named.items()))
    for err in wl.errors:
        print(f"  FAILED: {err}", file=sys.stderr)

    if args.trace:
        values = wl.per_layer()
        values["extract.kernel_us_per_turn"] = ctx.kernel_us_per_turn
        values["spark.gc_s"] = gc_s
        values["spark.peak_rss_mb"] = rss.peak_bytes / 2**20
        for k, v in probes.items():
            values[f"host.probe_{k}_s"] = v
        spec_metrics = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "first_op_s": ctx.first_op_s,
            "op_s": statistics.median(wl.op_times),
            "items_per_s": wl.items_per_s(),
        }
        spec_metrics = spec["end_to_end"]
    # BENCHMARK.json names every metric and its unit; a layer the workload
    # does not exercise reports 0.
    unknown = set(values) - {m["name"] for m in spec_metrics}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec_metrics}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [REPO, HERE]
    try:
        import graphrag_litex_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: graphrag_litex_spark is not importable from {REPO}", file=sys.stderr)
        return 2
    # Python workers, temp files and the JVM's own scratch stay inside the
    # checkout; the workers import the program from it.
    work_dir = os.path.join(HERE, ".work", str(os.getpid()))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    try:
        return run(args, work_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
