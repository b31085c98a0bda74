"""Benchmark entry point.

    python3 perfbench/run.py --workload alert_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload alert_night --steadiness 10

One run is one fresh process on ``local[N]`` (N = min(4, nproc)). It
writes its seeded inputs with pyarrow, then sets up the Spark session
once cold (imports, JVM start) and WARM_SETUPS more times in the same
JVM, each set-up ending with a light warm-up unit. ``setup_s`` is the
median of the warm set-ups; the cold one is left out of it. One untimed
full pass follows, then the run measures for ``--seconds`` and checks the
outputs against independent references.
The last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. ``--steadiness K``
runs K fresh processes with seeds 1..K and prints each end-to-end
metric's median, quartiles and IQR/median.

All files go under ``.perfbench_work/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_PROC = time.perf_counter()  # process start, as near as the script sees it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARM_SETUPS = 2


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def environment(work: str, cores: int) -> None:
    """Keep every file Spark, the JVMs and Python write inside the work
    directory (``-XX:-UsePerfData`` stops the JVM's /tmp/hsperfdata file),
    and the driver heap small."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = [f"spark.driver.extraJavaOptions={jvm_opts}",
             f"spark.sql.warehouse.dir={work}/warehouse",
             "spark.ui.showConsoleProgress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"]
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def run_once(args) -> dict:
    sys.path[:0] = [HERE, ROOT]
    import spans
    from workloads import WORKLOADS, Steps

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    environment(work, cores)
    try:
        wl = WORKLOADS[args.workload](work, args.seed, scale=args.scale)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        setups, session_s = [], []
        off = spans.Tracer(False)
        spark = None
        for _ in range(1 + WARM_SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            from fink_filters_spark.session import get_session
            import fink_filters_spark.filters.ztf  # noqa: F401  (registers topics)

            spark = get_session(f"perfbench-{args.workload}", cpus=cores)
            spark.sparkContext.setLogLevel("ERROR")
            session_s.append(time.perf_counter() - t0)
            wl.warm_unit(spark)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(spark, off)
        warm_s = time.perf_counter() - t0
        ready_s = time.perf_counter() - T_PROC - gen_s
        print(f"# {args.workload} seed={args.seed} local[{cores}] "
              f"setups={[round(s, 3) for s in setups]} warm={warm_s:.3f} ready={ready_s:.3f}", flush=True)

        half = args.seconds / 2 if args.trace else args.seconds
        win = wl.measure(spark, half, Steps(spark, off))
        cpu = win.cpu_s
        print(f"# window units={[round(u, 3) for u in win.units]} "
              f"intervals={[round(u, 3) for u in win.intervals]} "
              f"cpu={[round(c, 2) for c in win.interval_cpu]} items={win.items}", flush=True)
        traced = None
        if args.trace:
            tracer = spans.Tracer(True)
            steps = Steps(spark, tracer)
            traced = wl.measure(spark, half, steps)
            step_counts = steps.counts()
            layer = wl.layer_metrics()
        errs = wl.check(spark)
        for e in errs:
            print(f"# CHECK FAILED {args.workload}: {e}", flush=True)

        attempted = win.attempted + (traced.attempted if traced else 0) + 1
        failed = win.failed + (traced.failed if traced else 0) + (1 if errs else 0)
        result = {"correct": not errs and failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": {}}
        m = result["metrics"]
        if not args.trace:
            m["setup_s"] = metric(statistics.median(setups[1:]), "s")
            med = statistics.median
            m["throughput_per_s"] = metric(
                win.per_unit / med(win.intervals) if win.intervals else 0.0, "1/s")
            m["batch_s"] = metric(med(win.units) if win.units else 0.0, "s")
            m["cpu_s_per_1k"] = metric(
                med(win.interval_cpu) / win.per_unit * 1000 if win.interval_cpu else 0.0, "s")
        else:
            m.update(per_layer(win, traced, tracer, step_counts, layer,
                               session_s[0], gen_s, warm_s, ready_s, cpu, cores))
            tracer.write(os.path.join(ROOT, ".perfbench_work", "traces",
                                      f"{args.workload}-seed{args.seed}.json"))
        return result
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run or trace uses it
        except OSError:
            pass


def stop_jvm() -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit: closing its stdin ends PySpark's gateway server."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(win, traced, tracer, step_counts, layer, session_s, gen_s, warm_s, ready_s,
              cpu, cores):
    import spans
    from workloads import CORPUS_ONLY_METRICS, CORPUS_ONLY_STEPS, LAYER_METRICS, STEPS

    units = max(traced.spanned, 1)
    out: dict = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = metric(float(value), unit)

    put("session.start_s", session_s, "s")
    put("bench.gen_s", gen_s, "s")
    put("bench.warm_s", warm_s, "s")
    put("bench.ready_s", ready_s, "s")
    put("bench.cores", cores, "count")
    put("proc.cpu_s", cpu, "s")
    put("proc.peak_rss_mb", spans.tree_peak_rss_mb(), "MB")
    untraced_b = statistics.median(win.units) if win.units else 0.0
    traced_b = statistics.median(traced.units) if traced.units else 0.0
    put("trace.batch_s", traced_b, "s")
    put("trace.overhead_s", traced_b - untraced_b, "s")
    put("failed_frac", (win.failed + traced.failed) / max(win.attempted + traced.attempted, 1),
        "ratio")
    self_t = tracer.self_times()
    for lay in spans.LAYERS:
        put(f"self.{lay}_s", self_t.get(lay, 0.0) / units, "s")
    for step in STEPS + [s for s in CORPUS_ONLY_STEPS if s in step_counts]:
        c = step_counts.get(step, {})
        if step != "stream":
            secs = sum(s.end - s.start for s in tracer.spans if s.name == step)
            put(f"{step}_s", secs / units, "s")
        put(f"{step}.jobs", c.get("jobs", 0), "count")
        put(f"{step}.tasks", c.get("tasks", 0), "count")
    put("sched.stages", sum(c.get("stages", 0) for c in step_counts.values()), "count")
    put("sched.failed_tasks", sum(c.get("failed_tasks", 0) for c in step_counts.values()), "count")
    if "stream" in step_counts and layer.get("streaming.batches"):
        nb = layer["streaming.batches"]
        layer = dict(layer)
        layer["streaming.jobs_per_batch"] = step_counts["stream"].get("jobs", 0) / nb
        layer["streaming.tasks_per_batch"] = step_counts["stream"].get("tasks", 0) / nb
    for name, unit in LAYER_METRICS.items():
        put(name, layer.get(name, 0.0), unit)
    for name, unit in CORPUS_ONLY_METRICS.items():
        if name in layer:
            put(name, layer[name], unit)
    return out


def steadiness(args) -> None:
    """K fresh runs with seeds 1..K: median, quartiles and IQR/median per
    end-to-end metric."""
    values: dict[str, list[float]] = {}
    for seed in range(1, args.steadiness + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed} failed with exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "iqr_over_median": (q3 - q1) / med if med else None}
        note = "  <- set-up" if k == "setup_s" else ""
        print(f"{k:18s} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
              f"iqr/median {summary[k]['iqr_over_median']:.3f}{note}")
    print(json.dumps({"workload": args.workload, "runs": args.steadiness, "summary": summary}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["alert_stream", "alert_night", "corpus_curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the benchmark runs at 1.0")
    ap.add_argument("--steadiness", type=int, default=0, metavar="K")
    args = ap.parse_args(argv)
    if args.steadiness:
        steadiness(args)
        return 0
    try:
        result = run_once(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
