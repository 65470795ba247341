"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_batch --seed 1 \
        --seconds 10 --trace 0

Runs one workload (``corpus_batch`` or ``stream_serve``) against the engine in this checkout on ``local[nproc]``: generates the
workload's inputs from ``--seed``, sets up, runs closed-loop ops for
``--seconds`` (each workload also completes a minimum number of ops),
checks every op's output, and prints one JSON line last:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points, reads Spark's per-job counters, and
reports the per-layer metrics instead (see ``metrics.py``). A line
before it records nproc, the Spark version, the seed, the input sizes
and any check failure. Everything the run writes stays under
``.perfbench/`` in the checkout; results and span files are kept in
``.perfbench/results/``. Exits 1 when any op failed, 2 when the engine
is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_start() -> float:
    """Wall-clock time this process was created (Linux /proc), so
    setup_s covers interpreter start and imports too."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        hz = os.sysconf("SC_CLK_TCK")
        return time.time() - (uptime - ticks / hz)
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("corpus_batch", "stream_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="input size; tiny is the harness self-test size")
    ap.add_argument("--inject-fault", action="store_true",
                    help="drop one row from the first op's output before "
                         "it is checked (harness self-test)")
    return ap.parse_args(argv)


def _pin_environment(work: str) -> int:
    """Machine shape and scratch locations, set before the JVM starts:
    local[nproc] (the engine defaults to 32 threads), Spark's local and
    temp dirs inside the work dir, and the checkout on the Python
    workers' path."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        # the traced run reads every job back from the status store
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp
    return nproc


def _stop_processes(spark) -> None:
    """Stop Spark, end the driver JVM, and wait for every descendant
    (Python workers included) to exit."""
    from pyspark import SparkContext

    from perfbench.stats import descendants
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "transcript_analysis_spark",
                                       "__init__.py")):
        print(f"perfbench: the engine package transcript_analysis_spark is "
              f"not in {ROOT}", file=sys.stderr)
        return 2
    # the script's own directory would shadow stdlib modules; import
    # the harness as the `perfbench` package from the checkout root
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
            os.path.abspath(__file__)):
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    nproc = _pin_environment(work)

    from perfbench.stats import TreeRSS
    # memory is sampled on traced runs only: the sampler's /proc scans
    # would compete with the timed ops of an untraced run
    rss = TreeRSS().start() if args.trace else None
    spark = None
    try:
        import pyspark

        from perfbench import inputs, workloads
        from perfbench.metrics import per_layer
        from perfbench.tracing import SparkCounters, Tracer
        from transcript_analysis_spark.session import get_spark

        tracer = Tracer(enabled=bool(args.trace))
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if tracer.enabled:
            tracer.calibrate()
            tracer.install()

        ctx = workloads.Context(
            spark=spark, data_dir=os.path.join(work, "data"),
            work_dir=work, seed=args.seed, seconds=args.seconds,
            scale=args.scale, tracer=tracer, inject_fault=args.inject_fault,
            counters=SparkCounters(spark) if tracer.enabled else None,
            rss=rss)
        ctx.phases["session_s"] = session_s
        with ctx.phase("inputs_s"):
            props = inputs.generate(ctx.data_dir, args.seed, args.scale)
        res = workloads.WORKLOADS[args.workload](ctx)
        memory = rss.stop() if rss else None

        metrics = {
            "setup_s": ctx.setup_done - T_START,
            **res.metrics,
            "ok_ratio": (res.attempted - res.failed) / max(res.attempted, 1),
        }
        info = {"workload": args.workload, "seed": args.seed,
                "trace": args.trace, "nproc": nproc,
                "spark": pyspark.__version__, "scale": args.scale,
                "inputs": props, "setup_phases": ctx.phases,
                "memory": memory, **res.info,
                "errors": res.errors[:20]}
        if tracer.enabled:
            # every per-layer metric; those of the other workload read 0
            catalogue = per_layer()
            layers = {m["name"]: 0 for m in catalogue}
            layers["session.start_s"] = session_s
            layers["process.peak_rss_mb"] = memory["peak_mb"]
            layers["process.median_rss_mb"] = memory["median_mb"]
            layers.update(res.layers)
            unknown = set(layers) - {m["name"] for m in catalogue}
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics {unknown}")
            units = {m["name"]: m["unit"] for m in catalogue}
            out_metrics = {k: {"value": v, "unit": units[k]}
                           for k, v in layers.items()}
            stem = f"{args.workload}-s{args.seed}"
            tracer.dump(os.path.join(results, f"{stem}.spans.jsonl"))
            info["tracing_overhead"] = _overhead(results, stem, metrics)
        else:
            from perfbench.metrics import END_TO_END
            units = {n: u for n, u, *_ in END_TO_END}
            out_metrics = {k: {"value": metrics[k], "unit": units[k]}
                           for k, *_ in END_TO_END}
        line = {"correct": res.failed == 0, "attempted": res.attempted,
                "failed": res.failed, "metrics": out_metrics}
        name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
        with open(os.path.join(results, name), "w") as f:
            json.dump({"info": info, "e2e": metrics, **line}, f, indent=1,
                      default=str)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        if rss:
            rss.stop()
        _cleanup(spark, work)
        return 1
    _cleanup(spark, work)
    print(json.dumps({"info": info}, default=str))
    for err in res.errors[:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def _overhead(results: str, stem: str, traced: dict) -> dict | None:
    """Traced / untraced end-to-end figures for the same workload and
    seed, when an untraced result is on disk."""
    path = os.path.join(results, f"{stem}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["e2e"]
    return {k: traced[k] / base[k] for k in ("op_p50_s", "throughput_per_s")
            if base.get(k)}


def _cleanup(spark, work: str) -> None:
    try:
        _stop_processes(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
