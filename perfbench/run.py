"""milan_spark benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--local1 <0|1>] [--scale <sf>] [--trace-out <path>] [--reference <file>]

Run from the repository root. Workloads (see perfbench/README.md):

- ``batch_relational``  the 22 TPC-H-style catalog queries + the
  ``Application.run_batch`` path;
- ``iterative_graph``   loop-driven graph/clustering queries (all three
  iteration drivers);
- ``streaming_replay``  availableNow streaming queries + the
  ``Application.run_streaming`` path;
- ``live_enrichment``   an open-loop generator process feeding a continuous
  stateful enrichment stream.

Inputs: the tables come from ``datagen.py`` (fixed data seed, so the stored
reference digests apply); ``--seed`` shuffles query order per pass and drives
the live generator. Every result is checked: query outputs against
``reference_digests.json``, live output against a pandas replay.

Set-up (``setup_s``) runs from the engine imports through the warm-up: the
untimed warm-up pass, or the live warm-up phase. ``--trace 0`` prints the
end-to-end metrics. ``--trace 1`` adds one traced
pass and prints the per-layer metrics, with the tracing overhead against the
untraced pass; spans go to ``--trace-out``. ``--local1 1`` also repeats the
traced pass at ``local[1]`` and records the parallel speedup in the span file
and the environment line (a diagnostic; not a gated metric).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the pinned environment, sample counts and the
figures reported but not gated (live p90 latency and burst events/s).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
QUERY_WORKLOADS = ("batch_relational", "iterative_graph", "streaming_replay")
WORKLOADS = QUERY_WORKLOADS + ("live_enrichment",)
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_ms": "ms"}
MIN_TIMED_PASSES = 2


def pin_environment(workdir: str, cpus: int) -> dict:
    """Fix everything the engine reads from the environment, before the JVM
    starts. Temp and Spark local dirs live in this run's directory so runs
    leave nothing behind."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        # Spark's Python workers import milan_spark through PYTHONPATH
        "PYTHONPATH": os.pathsep.join([REPO] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    }
    os.environ.update(env)
    os.environ.pop("MILAN_STREAM_STATE_API", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


def stop_session(spark) -> None:
    """Stop the SparkContext and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session():
    """Engine imports and ``session.get_spark`` (JVM launch on first use).
    Returns (spark, perf_counter at the start, get_spark seconds)."""
    t0 = time.perf_counter()
    from milan_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("milan_perfbench")
    return spark, t0, time.perf_counter() - t1


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


def _query_setup(args):
    from milan_spark.catalog import queries
    from workloads import load_reference, reference_path, workload_queries

    catalog = queries()
    reference = load_reference(args.reference or reference_path(args.scale))
    if reference.get("scale") != args.scale:
        raise SystemExit(f"reference digests are for scale {reference.get('scale')}, "
                         f"not {args.scale}")
    return catalog, workload_queries(args.workload, catalog), reference


def measure_queries(spark, args, sf_dir: str, t_setup: float) -> tuple[dict, dict, int, int]:
    """Untimed warm-up pass (the end of set-up), then timed passes: at least
    ``MIN_TIMED_PASSES``, and more while another fits in ``--seconds``.
    Returns (end-to-end metrics, sample counts, attempted, failed)."""
    from workloads import run_pass

    catalog, names, reference = _query_setup(args)
    warm = run_pass(spark, sf_dir, names, catalog, reference, order_seed=-1)
    setup_s = time.perf_counter() - t_setup
    attempted, failed = len(names), len(warm.failed)
    walls, per_query = [], []
    t_end = time.perf_counter() + args.seconds
    while len(walls) < MIN_TIMED_PASSES or time.perf_counter() + walls[-1] <= t_end:
        r = run_pass(spark, sf_dir, names, catalog, reference,
                     order_seed=args.seed * 1000 + len(walls))
        walls.append(r.wall_s)
        per_query.extend(r.query_s.values())
        attempted += len(names)
        failed += len(r.failed)
    print(f"perfbench: pass walls {walls}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "latency_p50_ms": percentile(per_query, 50) * 1000.0,
    }, {"timed_passes": len(walls), "latency_samples": len(per_query)}, attempted, failed


def trace_queries(spark, args, sf_dir: str, tracer, listener) -> tuple[dict, int, int]:
    """One traced pass, in the first timed pass's order. Returns (per-layer
    metrics plus the traced ``wall_s``, attempted, failed)."""
    from workloads import run_pass

    catalog, names, reference = _query_setup(args)
    r = run_pass(spark, sf_dir, names, catalog, reference, order_seed=args.seed * 1000,
                 tracer=tracer, listener=listener)
    return {**r.layers, "wall_s": r.wall_s}, len(names), len(r.failed)


def measure_live(spark, args, workdir: str, t_setup: float) -> tuple[dict, dict, int, int]:
    """One live schedule; set-up ends when the warm-up's purchases have all
    been emitted. Returns (end-to-end metrics, sample counts and ungated
    figures, attempted events, failed)."""
    from live import run_live

    t_live = time.perf_counter()
    r = run_live(spark, workdir, args.seed, args.seconds)
    print(f"perfbench: live samples={len(r.latency_ms)} generator={r.generator}",
          file=sys.stderr)
    if not r.latency_ms or not r.bursts:
        raise RuntimeError("live run emitted no purchases in its low-rate window or bursts")
    return {
        "setup_s": t_live - t_setup + r.warmup_s,
        "wall_s": r.wall_s,
        "latency_p50_ms": percentile(r.latency_ms, 50),
    }, {
        "latency_samples": len(r.latency_ms),
        "latency_p90_ms": percentile(r.latency_ms, 90),
        "burst_batches": r.bursts,
        "burst_events_per_s": r.events_per_s,
        "generator": r.generator,
    }, r.events, r.failed


def trace_live(spark, args, workdir: str, tracer, listener) -> tuple[dict, int, int]:
    from live import run_live

    r = run_live(spark, workdir, args.seed, args.seconds, tracer=tracer, listener=listener)
    return {**r.layers, "wall_s": r.wall_s}, r.events, r.failed


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--local1", type=int, choices=(0, 1), default=0,
                    help="with --trace 1, repeat the traced pass at local[1]")
    ap.add_argument("--scale", type=float, default=None, help="data scale (default: datagen's)")
    ap.add_argument("--trace-out", default=None, help="span file (default: perfbench/out/)")
    ap.add_argument("--reference", default=None, help="reference digest file to check against")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(REPO, "milan_spark", "__init__.py")):
        print(f"perfbench: no milan_spark package under {REPO}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    import datagen

    if args.scale is None:
        args.scale = datagen.DEFAULT_SCALE
    # paths from the command line are relative to where it ran, not to the
    # run directory the benchmark moves into
    if args.reference:
        args.reference = os.path.abspath(args.reference)
    if args.trace_out:
        args.trace_out = os.path.abspath(args.trace_out)
    live = args.workload == "live_enrichment"
    measure, trace = (measure_live, trace_live) if live else (measure_queries, trace_queries)
    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(HERE, "_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    spark = None
    try:
        env = pin_environment(workdir, cpus)
        os.chdir(workdir)  # anything Spark writes relative to cwd is removed too
        target = workdir if live else datagen.write(os.path.join(workdir, "data"), args.scale)

        spark, t_setup, get_spark_s = start_session()
        e2e, detail, attempted, failed = measure(spark, args, target, t_setup)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
        record = {"perfbench_env": env, "cpus": cpus, "scale": args.scale,
                  "workload": args.workload, "seed": args.seed, "detail": detail}

        if args.trace:
            from layers import Tracer, progress_listener

            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            layers, a, f = trace(spark, args, target, tracer, progress_listener(spark))
            attempted, failed = attempted + a, failed + f
            traced = layers.pop("wall_s")
            layers.update({
                "session.get_spark_s": get_spark_s,
                "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "trace.untraced_wall_s": e2e["wall_s"],
                "trace.traced_wall_s": traced,
                "trace.overhead_frac": traced / e2e["wall_s"] - 1.0,
            })
            if args.local1:
                # same JVM (JIT stays warm), new SparkContext at local[1]
                spark.stop()
                os.environ["SPARK_GRAFT_CPUS"] = "1"
                spark, _, _ = start_session()
                one = Tracer(tracer.run_id + "-local1")
                l1, a, f = trace(spark, args, target, one, progress_listener(spark))
                attempted, failed = attempted + a, failed + f
                tracer.spans.extend(one.spans)
                record["local1"] = {"wall_s": l1["wall_s"], "speedup": l1["wall_s"] / traced}
            out = args.trace_out or os.path.join(
                HERE, "out", f"trace_{args.workload}_{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tracer.write(out, {**e2e, **layers, "local1": record.get("local1")}, env)
            units = per_layer_units()
            missing = [n for n in units if n not in layers]
            if missing:
                raise RuntimeError(f"traced run produced no value for {missing}")
            metrics = {n: {"value": float(layers[n]), "unit": u} for n, u in units.items()}
        print(json.dumps(record))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(REPO)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
