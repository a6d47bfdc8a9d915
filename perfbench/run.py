"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 0

Run from the root of a checkout: the engine is imported from the checkout,
and everything the run writes (index, Spark scratch, reports, span files)
stays under ``.perfbench_work/`` there. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it print every metric by name with its unit
and the run context.
"""

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep Spark, its JVM and its Python workers inside ``run_dir``, and let
    the workers import the engine from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    # whatever java.io.tmpdir says, from the launcher JVM and the driver.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def context(run, load_start: float) -> dict:
    import pyspark
    import workloads

    return {
        "workload": run.name,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.traced),
        "nproc": os.cpu_count(),
        "master": f"local[{workloads.CORES}]",
        "load1_start": load_start,
        "load1_end": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "warmup_ops": run.warmup_ops,
        "rounds": run.rounds,
        "timed_s": run.timed_s,
        "corpus": workloads.CORPUS.as_dict(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    load_start = os.getloadavg()[0]
    sys.path.insert(0, ROOT)
    try:
        import unichem2index_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = load_spec()
    import workloads
    from stats import summary

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)

    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, T0)
    try:
        run.setup()
        run.timed()
        if run.traced:
            run.batches()
        run.check_answers()
        run.cross_check()
        if run.traced:
            run.probes()
            run.update_tail()
        attempted, failed = run.outcome()
        e2e = run.end_to_end()
        layer = run.per_layer() if run.traced else {}
        ctx = context(run, load_start)
        ctx["after_timed_s"] = time.perf_counter() - T0 - run.setup_s - run.timed_s
    finally:
        if getattr(run, "spark", None) is not None:
            t = time.perf_counter()
            stop_spark(run.spark)
            teardown_s = time.perf_counter() - t
    ctx["teardown_s"] = teardown_s

    # batch_qps and build_docs_per_s are reported but not gated (README.md)
    units = {"batch_qps": "1/s", "build_docs_per_s": "docs/s"}
    units.update((m["name"], m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    wanted = spec["per_layer"] if run.traced else spec["end_to_end"]
    chosen = {**e2e, **layer}
    metrics = {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]} for m in wanted}

    reports = os.path.join(WORK_ROOT, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    report = {
        "context": ctx,
        "end_to_end": e2e,
        "per_layer": layer,
        "samples": {k: {**summary(v), "values": v} for k, v in run.samples.items()},
        "error_rate": failed / attempted,
        "checks": run.checks,
    }
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if run.traced:
        run.tr.dump(stem + "-spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    print("context " + json.dumps(ctx))
    for name, v in sorted(chosen.items()):
        print(f"{name:40s} {v:>14.6g} {units.get(name, '')}")
    print(f"{'error_rate':40s} {failed / attempted:>14.6g} fraction ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
