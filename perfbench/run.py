#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fire_stream --seed 1 --seconds 6 --trace 0

Runs one workload (see ``perfbench/workloads.py``) on ``local[N]`` from
this one process, checks its outputs against the DuckDB oracle, prints
every end-to-end metric by name with its unit and sample count, and
ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.

All scratch (``TMPDIR``, the Spark warehouse and local dirs, Derby,
checkpoints, generated inputs) lives in a per-run directory under
``perfbench/out/`` that is removed at exit; the run's report (context,
every metric, spans when traced) is kept beside it as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="N of local[N]; default 1")
    return ap.parse_args(argv)


def _scratch(run_dir: str, cpus: int) -> None:
    """Point every temp-dir consumer of the engine and of Spark at the
    run directory, so nothing outlives the run."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"), os.path.join(run_dir, "wh")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "wh")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Every JVM (the launcher too) would otherwise write hsperfdata under
    # /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.chdir(run_dir)  # derby.log, metastore_db and friends land here


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    one started has ended."""
    from pyspark import SparkContext

    from perfbench.measure import process_tree

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _context(args, nproc: int, cpus: int) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "local_n": cpus,
        "loadavg_start": list(os.getloadavg()),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "duckdb": duckdb.__version__, "data_dir": "generated per run, seed above",
        "cpu_ticks_start": _cpu_ticks(),
    }


def _previous_untraced(workload: str, seed: int) -> dict | None:
    prefix = f"{workload}-seed{seed}-trace0-"
    names = sorted(n for n in os.listdir(OUT_DIR) if n.startswith(prefix))
    if not names:
        return None
    with open(os.path.join(OUT_DIR, names[-1])) as f:
        return json.load(f)


def run(args) -> dict:
    from big_data_exercise_spark.multimodal import _native
    from big_data_exercise_spark.session import get_spark

    from perfbench.measure import ProcTreeMonitor, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    # One task thread. Besides its tasks the engine keeps the driver,
    # the Python workers, the JIT compilers and the garbage collector
    # busy: on a 4-core VM a local[2] run used 2.5 cores on average. In
    # five-seed probes with one task thread join latency fell from 2.2 to
    # 1.8 s and the CPU a run spends varied less, and a competing busy
    # process left fire latency unchanged where it raised it by half on
    # local[2] (perfbench/METRICS.md has the figures).
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or 1
    run_dir = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    context = _context(args, nproc, cpus)
    tracer = Tracer(bool(args.trace))
    try:
        _scratch(run_dir, cpus)
        with ProcTreeMonitor() as monitor:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(cpus=cpus, extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                })
            t1 = time.perf_counter()
            try:
                spark.sparkContext.setJobGroup("pb:setup", "benchmark: first job")
                with tracer.span("session.warm"):
                    spark.range(1000).selectExpr("sum(id)").collect()
                t2 = time.perf_counter()
                with tracer.span("multimodal.native_load"):
                    native = _native.get_lib() is not None
                t3 = time.perf_counter()
                ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace),
                          run_dir, tracer, monitor)
                cpu0 = monitor.cpu_s()
                outcome = WORKLOADS[args.workload](ctx)
                cpu_s = monitor.cpu_s() - cpu0 - ctx.overhead_cpu_s
            finally:
                _stop_spark(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    context["loadavg_end"] = list(os.getloadavg())
    ticks = [b - a for a, b in zip(context.pop("cpu_ticks_start"), _cpu_ticks())]
    # Share of host CPU time stolen by other guests while this run ran.
    context["steal_share"] = ticks[7] / max(1, sum(ticks))
    outcome.e2e["setup_s"] = (t3 - t0, "s", 1)
    outcome.e2e["cpu_s"] = (cpu_s, "s", 1)
    outcome.e2e["peak_pss_mb"] = (monitor.peak_pss / 2**20, "MB", 1)
    outcome.layers.update({
        "session.start_s": t1 - t0, "session.warm_s": t2 - t1,
        "multimodal.native_load_s": t3 - t2, "multimodal.native": float(native),
    })
    report = {"context": context, "attempted": outcome.attempted,
              "failed": outcome.failed, "notes": outcome.notes,
              "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                             for k, (v, u, n) in outcome.e2e.items()},
              "per_layer": outcome.layers}
    if args.trace:
        report["self_ms"] = tracer.self_times_ms()
        report["spans"] = tracer.spans
        prev = _previous_untraced(args.workload, args.seed)
        if prev:
            report["trace_overhead"] = {
                k: v["value"] - prev["end_to_end"][k]["value"]
                for k, v in report["end_to_end"].items()
                if k in prev["end_to_end"]
            }
    return report


def main(argv=None) -> int:
    args = _args(argv)
    # A terminated run still stops Spark and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT]
    try:
        import big_data_exercise_spark  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (ImportError, OSError) as ex:
        print(f"perfbench: cannot run here: {ex}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        report = run(args)
    except Exception:  # noqa: BLE001 — the run cannot report; say why
        traceback.print_exc()
        return 1
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                           f"{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    ctx = report["context"]
    print(f"# {ctx['workload']} seed={ctx['seed']} local[{ctx['local_n']}] "
          f"nproc={ctx['nproc']} load {ctx['loadavg_start'][0]:.2f}->"
          f"{ctx['loadavg_end'][0]:.2f} spark={ctx['spark']} python={ctx['python']} "
          f"duckdb={ctx['duckdb']} steal={ctx['steal_share']:.3f}")
    for k, m in sorted(report["end_to_end"].items()):
        print(f"{k:24s} {m['value']:14.4f} {m['unit']:5s} n={m['samples']}")
    rate = report["failed"] / max(1, report["attempted"])
    print(f"{'error_rate':24s} {rate:14.4f} ratio n={report['attempted']}")
    for note in report["notes"]:
        print(f"! {note}")
    for k, v in sorted(report.get("trace_overhead", {}).items()):
        print(f"trace overhead {k:24s} {v:+.4f}")

    if args.trace:
        metrics = {m["name"]: {"value": float(report["per_layer"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {}
        for m in bench["end_to_end"]:
            v = report["end_to_end"][m["name"]]["value"]
            if not math.isfinite(v) or v <= 0:
                print(f"perfbench: {m['name']} = {v} is not a measurement",
                      file=sys.stderr)
                return 1
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
