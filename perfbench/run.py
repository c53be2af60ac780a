"""flame-spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload build_reuse --seed 1 --seconds 20 --trace 0

Runs against the flame-spark checkout that holds this directory, from
any working directory. Builds its inputs from
``--seed``, runs set-up, then the workload's timed phase for
``--seconds`` (always at least one full cycle), checks every output
and prints one metric per line followed, as the last line, by one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
fixed cycle untraced, then the same cycle traced (spans, one Spark job
group per span, Spark's event log attached to the session) and reports
the per-layer metrics, including ``trace.overhead_ratio`` = traced /
untraced wall time of that cycle.

Exit status: 0 when every check passed, 1 when a check failed or the
workload raised, 2 on bad arguments or when the checkout holds no
engine to run. Scratch files live under ``.bench_run/`` in the
checkout; the result of each run is kept in ``.bench_run/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE in sys.path:
    # this package is imported as ``perfbench`` from the checkout root;
    # left on the path, its ``trace`` module would shadow the stdlib's
    sys.path.remove(HERE)

WORKLOAD_NAMES = ("build_reuse", "serve_ingest")
END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_s_per_kitem": "s",
    "side_p50_ms": "ms",
}
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_cpus() -> int:
    """``local[k]``: the usable CPUs, at most 2. At these input sizes
    the work is bound by per-job scheduling and Python-worker round
    trips; two threads leave the host's other CPUs to the JVM's own
    threads and the Python workers."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def start_session(root: str, run_dir: str, jvm_options: str = ""):
    """A local Spark session whose scratch space, temp files and Python
    workers' import path all point into the checkout. ``jvm_options``
    go to the driver JVM (see each workload's ``jvm_options``)."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "eventlog")):
        os.makedirs(d, exist_ok=True)
    # Python workers start from the JVM's environment, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["FLAME_DRIVER_MEM"] = DRIVER_MEMORY
    # the same str hashes in every run and every worker, so set and
    # dict iteration orders do not differ from run to run
    os.environ["PYTHONHASHSEED"] = "0"
    from flame_spark.session import get_spark

    k = session_cpus()
    spark = get_spark(
        "perfbench", cpus=k, shuffle_partitions=k,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # the whole heap from the start: no run-dependent heap growth
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} {jvm_options} -Djava.io.tmpdir={tmp}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, root: str) -> tuple[dict, dict, object]:
    """-> (result line, report, tally)."""
    from perfbench import host, layers, trace
    from perfbench.stats import Tally
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    run_dir = os.path.join(
        root, ".bench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    tally = Tally()
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    spark = wl = None
    try:
        spark = start_session(root, run_dir, WORKLOADS[args.workload].jvm_options)
        session_s = time.perf_counter() - t_start
        tracer = trace.Tracer(spark.sparkContext, enabled=False)
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer, tally)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        if args.trace:
            wl.warm()
            t0 = time.perf_counter()
            wl.step()
            untraced = time.perf_counter() - t0
            tracer.enabled = True
            layers.install_patches(tracer)
            try:
                with trace.EventLog(spark, os.path.join(run_dir, "eventlog")) as ev:
                    win = host.HostWindow()
                    t0 = time.perf_counter()
                    wl.step()
                    traced = time.perf_counter() - t0
                    hw = win.close()
            finally:
                tracer.unpatch_all()
                tracer.enabled = False
            extra = wl.layer_extra()
            extra["host.rss_peak_mb"] = host.tree_rss_peak_mb()
            extra["host.steal_frac"] = hw["host_steal_frac"]
            extra["trace.overhead_ratio"] = traced / untraced
            table = layers.layer_table(
                tracer, trace.fold(trace.read_events(ev.path)), extra
            )
            metrics = {k: (v, layers.UNITS[k]) for k, v in table.items()}
            report["host"] = hw
            report["untraced_s"] = untraced
            report["traced_s"] = traced
            report["spans"] = [
                {"name": s.name, "path": s.path, "s": round(s.seconds, 6)}
                for s in tracer.spans
            ]
        else:
            win = host.HostWindow()
            t0 = time.perf_counter()
            cycles = 0
            while True:
                wl.step()
                cycles += 1
                if time.perf_counter() - t0 >= args.seconds or cycles == wl.max_cycles:
                    break
            report["measured_s"] = time.perf_counter() - t0
            report["host"] = win.close()
            own = wl.metrics()
            report["workload_metrics"] = own
            contract = dict(wl.contract(own), setup_s=setup_s)
            metrics = {k: (contract[k], u) for k, u in END_TO_END_UNITS.items()}
        report["samples"] = wl.samples
        report["phase_s"] = dict(wl.phase_s, session=session_s)
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report["ops_failed_ratio"] = tally.failed_ratio
    report["failures"] = tally.messages
    return result, report, tally


def print_table(result: dict, report: dict) -> None:
    w = report["workload"]
    print(f"# perfbench {w} seed={report['seed']} trace={report['trace']}")
    for name, (value, unit) in report.get("workload_metrics", {}).items():
        print(f"{w}  {name:<32} {value:>14.4f} {unit}")
    for name, m in result["metrics"].items():
        print(f"{w}  {name:<32} {m['value']:>14.4f} {m['unit']}")
    print(f"{w}  {'ops_failed_ratio':<32} {report['ops_failed_ratio']:>14.4f} ratio"
          f"  ({result['failed']} of {result['attempted']})")
    for k, v in (report.get("host") or {}).items():
        print(f"{w}  {'host.' + k:<32} {v:>14.4f}")
    for k, v in (report.get("phase_s") or {}).items():
        print(f"{w}  {'set-up phase ' + k:<32} {v:>14.4f} s")
    for msg in report["failures"]:
        print(f"{w}  FAILED: {msg}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # the checkout this script belongs to, whatever the caller's cwd
    root = os.path.dirname(HERE)
    if not (
        os.path.isfile(os.path.join(root, "flame_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "bench.py"))
    ):
        print(
            f"perfbench: {root} holds no flame-spark engine to run "
            "(flame_spark/ and bench.py not found)",
            file=sys.stderr,
        )
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        result, report, tally = run(args, root)
    except Exception:
        traceback.print_exc()
        print("perfbench: the workload raised; no result", file=sys.stderr)
        return 1
    out_dir = os.path.join(root, ".bench_run", "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"result": result, "report": report}, f, indent=1, default=str)
    print_table(result, report)
    print(json.dumps(result))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
