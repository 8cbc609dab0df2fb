"""Repository benchmark: one seeded workload, timed for a fixed window.

    python3 perfbench/run.py --workload extract_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from the seed
under ``.perfbench_work/``, starts a ``local[nproc]`` session through the
package's own session factory, warms up, then submits the workload's
operation in a closed loop (one client, one job at a time) until the
window ends. Every operation's output is checked; a seeded sample of turns
is also compared with the per-turn oracle after the window.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before it
carries the detail: quartiles and sample counts, the input's size, tool
mix and seed, host load and versions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("extract_pages", "html_extract", "extract_job")
SETUP_REPS = 3
DEFAULT_DRIVER_MEMORY = "1g"
MB = 2**20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test runs tiny inputs)")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark local dirs, JVM and Python
    temp files) inside the work directory, and let Python workers import
    the package from this checkout. The driver heap starts at its maximum
    size: left to grow on its own, it settled at a different size in each
    run and made both memory and speed vary from run to run. The JVM
    compiles with C1 only: with C2 as well, the operation time kept falling
    for several operations while C2 compiled, and the window measured that
    warm-up; with C1 only it is level from the second operation on, at the
    same or a lower time."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM performance counters (they go to the system temp directory)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    "-XX:TieredStopAtLevel=1") if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEMORY']}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _summary(values: list, unit: str) -> dict:
    """Median, quartiles and sample count; with at least 20 samples also
    the highest percentile that has ten samples beyond it."""
    out = {"median": statistics.median(values), "n": len(values), "unit": unit}
    if len(values) >= 2:
        out["q1"], _, out["q3"] = statistics.quantiles(values, n=4)
    if len(values) >= 20:
        pct = int(100 * (1 - 10 / len(values)))
        out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _isolate(work)
    try:
        import pdf_parser_spark  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        return _run(args, bench, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, bench: dict, work: str, work_root: str) -> int:
    import pyarrow
    import pyspark

    from pdf_parser_spark.session import get_spark
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Context, inprocess_layers

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    n_items = max(10, int(wl.size * args.scale))

    with tracing.MemoryMonitor() as mem:
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{args.workload}", cpus=str(nproc))
        session_start_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = tracing.Tracer(spark, enabled=False)
            ctx = Context(spark, tracer, work, args.seed)
            gen_s = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                inp = wl.build(ctx, n_items, os.path.join(work, f"input-{rep}"))
                gen_s.append(time.perf_counter() - t0)
                if ctx.inp:
                    shutil.rmtree(ctx.inp["path"])
                ctx.inp = inp
            t0 = time.perf_counter()
            warm = wl.op(ctx)
            warmup_s = time.perf_counter() - t0
            setup_s = session_start_s + statistics.median(gen_s) + warmup_s

            t0 = time.perf_counter()
            wl.prepare(ctx)
            check_setup_s = time.perf_counter() - t0
            warm_errors = wl.check(ctx, warm)

            attempted = failed = 0
            walls = {True: [], False: []}
            cpus = []
            layer_samples: dict = {}
            window_start = time.monotonic()
            deadline = window_start + args.seconds
            while True:
                traced = bool(args.trace) and attempted % 2 == 1
                tracer.enabled = traced
                tracer.next_op()
                attempted += 1
                try:
                    c0, t0 = tracing.tree_cpu_s(), time.perf_counter()
                    res = wl.op(ctx)
                    wall = time.perf_counter() - t0
                    cpu = tracing.tree_cpu_s() - c0
                    errors = wl.check(ctx, res)
                    if not errors:
                        walls[traced].append(wall)
                        if traced:
                            for k, v in wl.layers(ctx, res).items():
                                layer_samples.setdefault(k, []).append(v)
                        else:
                            cpus.append(cpu)
                except Exception:  # noqa: BLE001 -- count it, keep measuring
                    errors = [traceback.format_exc()]
                if errors:
                    failed += 1
                    print(f"perfbench: operation {attempted} failed: {errors[:5]}", file=sys.stderr)
                # a traced run needs one untraced and one traced operation
                if time.monotonic() >= deadline and attempted >= 1 + args.trace:
                    break
            window_end = time.monotonic()
            tracer.enabled = False
            final_errors = warm_errors + wl.final_check(ctx)
            if final_errors:
                print(f"perfbench: output check failed: {final_errors[:5]}", file=sys.stderr)
                failed = attempted
            if args.trace:
                t0 = time.perf_counter()
                inproc = inprocess_layers(ctx.inp)
                inproc_s = time.perf_counter() - t0
        finally:
            _stop_spark(spark)
    load_after = os.getloadavg()

    window_mem = mem.window(window_start, window_end)
    all_walls = walls[False] + walls[True]
    rates = [ctx.inp["n_items"] / w for w in (walls[True] if args.trace else all_walls)]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": {k: v for k, v in ctx.inp.items() if k in ("n_items", "n_convs", "tool_mix")}
        | {"seed": args.seed},
        "load_model": "closed loop, one client, one job at a time",
        "failed_frac": failed / attempted,
        "setup": {"session_start_s": session_start_s, "gen_s": gen_s,
                  "warmup_s": warmup_s, "setup_s": setup_s},
        "check_setup_s": check_setup_s,
        "env": {"nproc": nproc, "master": f"local[{nproc}]",
                "loadavg_before": load_before, "loadavg_after": load_after,
                "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "python": sys.version.split()[0], "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__},
        "memory_mb": {"run_peak": mem.peak_bytes / MB,
                      "window_peak": max(window_mem) / MB,
                      "window_median": statistics.median(window_mem) / MB},
        "op_s": _summary(all_walls, "s") if all_walls else None,
        "op_cpu_s": _summary(cpus, "s") if cpus else None,
        "turns_per_s": _summary(rates, "1/s") if rates else None,
    }
    if args.trace:
        layers = {k: statistics.median(v) for k, v in layer_samples.items()} | inproc
        layers["session.start_s"] = session_start_s
        layers["generator.gen_s"] = statistics.median(gen_s)
        layers["trace.overhead_s"] = (statistics.median(walls[True]) - statistics.median(walls[False])
                                      if walls[True] and walls[False] else 0.0)
        detail["inprocess_s"] = inproc_s
        detail["layers"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        with open(os.path.join(work_root, "traces", f"{args.workload}-s{args.seed}.json"),
                  "w", encoding="utf-8") as f:
            json.dump({"detail": detail, "spans": tracer.spans}, f, indent=1, default=str)
    else:
        e2e = {"turns_per_s": statistics.median(rates) if rates else 0.0,
               "setup_s": setup_s, "peak_rss_mb": max(window_mem) / MB}
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
