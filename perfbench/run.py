"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run it from the repository root. The inputs come from ``--seed``; the
loop measures for ``--seconds``; every result is checked. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines before it give each
metric's sample count and the run's attribution metadata.

Spark runs as ``local[nproc]`` through ``shaha_spark.session.get_spark``;
the launch settings (console progress bar off, scratch directories
inside ``.perfbench_work/``, and the event log for traced runs) are
passed through ``PYSPARK_SUBMIT_ARGS``. Everything a run writes stays
under ``.perfbench_work/``: its scratch directory is removed at the end,
while untraced results (``history/``, keyed by the digest of the code and
the run length) and span dumps (``traces/``) are kept, so that a traced
run can report its overhead against untraced runs of the same code.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def launch_settings(work: str, trace: bool) -> None:
    """Environment for the Spark launch: local[nproc], UTC, and every
    scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # A 2 GB heap (the package default is 8 GB) holds both workloads and
    # keeps the process tree's peak RSS from following the heap's growth.
    os.environ["SHAHA_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* from the spark-submit launcher JVM either
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    # the heap starts at its full size, so peak RSS does not depend on when
    # the collector decided to grow it
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for every child
    process of this one to end."""
    from pyspark import SparkContext

    from perfbench import sysinfo

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 20
    me = os.getpid()
    while True:
        rest = [p for p in sysinfo.descendants(me) if p != me]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 20
        time.sleep(0.2)


def history_path(workload: str) -> str:
    return os.path.join(WORK_ROOT, "history", f"{workload}.jsonl")


def tracing_overhead(workload: str, key: dict, traced: dict[str, float]) -> dict | None:
    """Traced minus untraced medians. The untraced ones are taken over the
    runs in ``history/`` of the same code and run length (``key``); None
    when there are none."""
    try:
        with open(history_path(workload)) as fh:
            past = [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        past = []
    past = [p["metrics"] for p in past if p.get("key") == key]
    if not past:
        return None
    out = {}
    for name, value in traced.items():
        vals = [p[name] for p in past if name in p]
        if vals:
            base = statistics.median(vals)
            out[name] = {"traced": value, "untraced_median": base,
                         "untraced_runs": len(vals), "delta": value - base}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "shaha_spark", "__init__.py")):
        print("perfbench: no shaha_spark package here; run from the repository root",
              file=sys.stderr)
        return 2

    from perfbench import spec, sysinfo, tracing, workloads

    trace = bool(args.trace)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch_settings(work, trace)
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": trace, "nproc": os.cpu_count(),
            "loadavg_start": sysinfo.loadavg(),
            "cpu_calib_ms": sysinfo.cpu_calibration_ms(),
            "git_commit": sysinfo.git_commit(ROOT),
            "source_digest": sysinfo.source_digest(ROOT),
        }
        cpu_start = sysinfo.cpu_times()
        with sysinfo.PeakRss() as rss:
            import pyspark

            from shaha_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            meta["spark_version"] = pyspark.__version__
            meta["java_version"] = spark.sparkContext._jvm.System.getProperty("java.version")
            tracer = tracing.Tracer(spark.sparkContext if trace else None)
            if trace:
                for module, attr, name in workloads.TRACED_FUNCTIONS:
                    tracer.wrap(importlib.import_module(module), attr, name)
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer)
            try:
                outcome = workloads.WORKLOADS[args.workload](ctx)
            except BaseException:
                stop_spark(spark)  # a failed run also leaves no process behind
                raise
            finally:
                tracer.unwrap_all()
        outcome.setup_s += session_s
        meta["setup_phases"] = {"session": session_s, **outcome.phases}
        meta.update(outcome.notes)
        stop_spark(spark)
        meta["loadavg_end"] = sysinfo.loadavg()
        meta["steal_frac"] = round(sysinfo.steal_fraction(cpu_start, sysinfo.cpu_times()), 4)

        history_key = {"source_digest": meta["source_digest"], "seconds": args.seconds}
        e2e = dict(outcome.e2e)
        e2e["setup_s"] = (outcome.setup_s, 1)
        e2e["peak_rss_mb"] = (rss.peak / 2**20, 1)
        if trace:
            groups = tracing.fold_event_log(os.path.join(work, "eventlog"))
            values = outcome.layers(groups)
            values["session.start_s"] = session_s
            samples = {}
            traces = os.path.join(WORK_ROOT, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.spans.jsonl"))
            overhead = tracing_overhead(args.workload, history_key,
                                        {k: v for k, (v, _) in e2e.items()})
            if overhead is None:
                meta["tracing_overhead"] = ("missing: no untraced run of this code "
                                            "and run length in .perfbench_work/history")
            print(json.dumps({"tracing_overhead": overhead}))
        else:
            values = {k: v for k, (v, _) in e2e.items()}
            samples = {k: n for k, (_, n) in e2e.items()}
            os.makedirs(os.path.dirname(history_path(args.workload)), exist_ok=True)
            with open(history_path(args.workload), "a") as fh:
                fh.write(json.dumps({"key": history_key, "seed": args.seed,
                                     "metrics": values}) + "\n")

        wanted = spec.metrics_for(trace)
        missing = [m.name for m in wanted if m.name not in values]
        metrics = {
            m.name: {"value": float(values[m.name]), "unit": m.unit}
            for m in wanted if m.name in values
        }
        for m in wanted:
            if m.name in values:
                n = samples.get(m.name)
                print(f"{m.name:40s} {values[m.name]:>16.6g} {m.unit:8s}"
                      + (f" n={n}" if n is not None else ""))
        meta["failed_frac"] = outcome.failed / max(1, outcome.attempted)
        meta["problems"] = outcome.problems
        meta["missing_metrics"] = missing
        # every metric should be nonzero; a zero one is named here
        meta["zero_metrics"] = [k for k, v in metrics.items() if v["value"] == 0]
        print(json.dumps({"perfbench_meta": meta}))
        result = {
            "correct": outcome.failed == 0 and not missing and outcome.attempted > 0,
            "attempted": max(1, outcome.attempted),
            "failed": outcome.failed if outcome.attempted else 1,
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
