"""transcript-qc benchmark: one workload, one seed, one JSON result.

Run from the repository root::

    python3 perfbench/run.py --workload qc_pipeline --seed 1 \
        --seconds 12 --trace 0

Set-up (session start, seeded input generation, warm-up) is timed as
``setup_s``.  Then the workload's public calls repeat in a closed loop for
``--seconds``; each iteration's wall time and the CPU time of the JVM and
the Python workers (from ``/proc``) give the per-iteration figures, whose
medians are reported.  The outputs of the last iteration are checked.

``--trace 1`` sets up and loops once with the Spark event log on, every
public call tagged with a job group and wrapped in a span; then it
restarts the Spark context without the event log and loops untraced on
the same inputs, and reports the per-layer metrics plus the tracing
overhead.  The metric names, units and directions are read from
``BENCHMARK.json``.  The last line of standard output is the JSON result;
the exit code is 0 only when every operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work_dir: str) -> None:
    """Python workers are started by the JVM, not by this process: they see
    the package only through ``PYTHONPATH`` (a ``sys.path`` insert here
    does not reach them).  Temporary files stay inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(cpus: int, work_dir: str, event_log_dir=None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("transcript-qc-bench")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work_dir}/tmp")
         .config("spark.local.dir", f"{work_dir}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work_dir}/warehouse")
         .config("spark.sql.shuffle.partitions", str(cpus * 2))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.eventLog.enabled", str(event_log_dir is not None)
                 .lower()))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", f"file://{event_log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Context:
    def __init__(self, spark, seed, cpus, work_dir, tracer):
        self.spark = spark
        self.seed = seed
        self.cpus = cpus
        self.work_dir = work_dir
        self.tracer = tracer


def measure(args, sampler, work_dir: str, traced: bool, wl=None) -> dict:
    """Set up, loop for ``args.seconds`` and check, in one Spark context.

    With ``wl`` (a workload already prepared in an earlier context of this
    JVM) the inputs are reused: only the session start and the warm-up
    are redone.  Returns the figures and the workload.
    """
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS

    os.makedirs(work_dir, exist_ok=True)
    cpus = cpu_count()
    log_dir = os.path.join(work_dir, "eventlog") if traced else None
    sampler.reset_peak()
    t0 = time.perf_counter()
    spark = start_session(cpus, work_dir, log_dir)
    tracer = Tracer(spark.sparkContext, sampler) if traced else NullTracer()
    if wl is None:
        wl = WORKLOADS[args.workload](
            Context(spark, args.seed, cpus, work_dir, tracer))
        fresh = True
    else:
        wl.ctx.spark, wl.ctx.tracer = spark, tracer
        wl.iterations, fresh = 0, False
    ctx = wl.ctx
    attempted, failures, iters = 0, [], []
    setup_s = 0.0
    try:
        t_session = time.perf_counter() - t0
        if fresh:
            wl.prepare()
        t_inputs = time.perf_counter() - t0 - t_session
        ctx.tracer = NullTracer()   # warm-up calls stay out of the trace
        wl.warm()
        ctx.tracer = tracer
        setup_s = time.perf_counter() - t0
        print(f"# set-up {setup_s:.2f} s: session {t_session:.2f} s, "
              f"inputs {t_inputs:.2f} s, warm-up "
              f"{setup_s - t_session - t_inputs:.2f} s", file=sys.stderr)
        loop_t0 = time.perf_counter()
        while not iters or time.perf_counter() - loop_t0 < args.seconds:
            cpu0, t = sampler.cpu(), time.perf_counter()
            n, fails = wl.iterate()
            dt, cpu = time.perf_counter() - t, sampler.cpu() - cpu0
            wl.iterations += 1
            attempted += n
            failures += fails
            iters.append((dt, cpu))
        if traced:
            wl.probe()
        n, fails = wl.check()
        attempted += n
        failures += fails
    except Exception:  # a raised call is a failed operation; report it
        traceback.print_exc()
        attempted += 1
        failures.append("raised: " + traceback.format_exc(limit=1)
                        .strip().splitlines()[-1])
    rows = wl.rows
    print("# iterations (s): " + " ".join(f"{dt:.2f}" for dt, _ in iters),
          file=sys.stderr)
    out = {
        "setup_s": setup_s,
        "iterations": len(iters),
        "rows_per_iter": rows,
        "rows_per_s": statistics.median(rows / dt for dt, _ in iters)
        if iters else 0.0,
        "cpu_s_per_mrow": statistics.median(c.total_s / rows * 1e6
                                            for _, c in iters)
        if iters and rows else 0.0,
        "peak_rss_mb": sampler.peak_rss_bytes() / 2**20,
        "attempted": attempted,
        "failures": failures,
        "workload": wl,
    }
    spark.stop()
    if traced:
        out["layers"] = layer_metrics(wl, tracer, log_dir)
        tracer.write(os.path.join(work_dir, "spans.json"))
    return out


def layer_metrics(wl, tracer, log_dir) -> dict:
    import eventlog
    from workloads import MODULES

    groups = eventlog.summarize(eventlog.read_events(
        eventlog.find_log(log_dir)))
    empty = eventlog.GroupStats()
    metrics = {"transcripts.generate_s": sum(
        s.duration_s for s in tracer.by_name("transcripts.generate"))}
    if wl.iterations:
        metrics.update(wl.layer_metrics(
            lambda g: groups.get(g, empty), tracer))
    for m in MODULES:
        metrics[f"{m}.failed_tasks"] = sum(
            gs.failed_tasks for g, gs in groups.items()
            if g.split(".", 1)[0] == m)
    return metrics


def remove_work_dir(work_dir: str, run_root: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    if os.path.isdir(run_root) and not os.listdir(run_root):
        os.rmdir(run_root)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            spec = json.load(f)
    except OSError as e:
        print(f"run from the repository root: {e}", file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".perfbench_run")
    work_dir = os.path.join(run_root,
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work_dir)
    try:
        import discoverx_spark  # noqa: F401
        from workloads import MODULES, WORKLOADS
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        remove_work_dir(work_dir, run_root)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from procstat import ProcTreeSampler

    try:
        with ProcTreeSampler() as sampler:
            if args.trace:
                # traced first, then the same inputs untraced for the
                # overhead comparison
                traced = measure(args, sampler, work_dir, traced=True)
                res = measure(args, sampler, work_dir, traced=False,
                              wl=traced["workload"])
            else:
                res = measure(args, sampler, work_dir, traced=False)
        stop_jvm()
        if args.trace:
            spans_out = os.path.join(
                ROOT, ".perfbench_out",
                f"{args.workload}-seed{args.seed}-spans.json")
            os.makedirs(os.path.dirname(spans_out), exist_ok=True)
            shutil.copyfile(os.path.join(work_dir, "spans.json"), spans_out)
    finally:
        remove_work_dir(work_dir, run_root)

    failures = res["failures"]
    attempted = res["attempted"]
    if args.trace:
        failures = failures + traced["failures"]
        attempted += traced["attempted"]
        layers = dict(traced["layers"])
        layers["trace.traced_rows_per_s"] = traced["rows_per_s"]
        layers["trace.overhead_frac"] = (
            1.0 - traced["rows_per_s"] / res["rows_per_s"]
            if res["rows_per_s"] else 0.0)
        wanted = spec["per_layer"]
        # a layer this workload never calls spent no time and ran no job
        on_path = WORKLOADS[args.workload].modules
        for m in wanted:
            module = m["name"].split(".", 1)[0]
            if module in MODULES and module not in on_path:
                layers.setdefault(m["name"], 0.0)
        values = layers
    else:
        wanted = spec["end_to_end"]
        values = res
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            print(f"metric {m['name']} was not produced", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    error_frac = len(failures) / max(attempted, 1)
    print(f"# workload={args.workload} seed={args.seed} "
          f"iterations={res['iterations']} rows_per_iteration="
          f"{res['rows_per_iter']} error_frac={error_frac:.6g}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
