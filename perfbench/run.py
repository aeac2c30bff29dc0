"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout: the engine package is imported
from there and every file the run writes (inputs, Spark local dirs,
state, index) lives under ``.bench_work/`` in it and is removed at the
end. The Spark session is ``local[4]`` (fewer if the host has fewer
cores) with a 1 GB driver heap.

The last line on stdout is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics
(``workloads.METRICS``). With ``--trace 1`` every public function of the
traced layer modules is wrapped (``tracer.py``) and the metrics are the
per-layer counters ``<layer>.<counter>`` plus ``trace.*`` attribution
checks; the per-layer table goes to stderr. Run both modes on one seed
to read the tracing overhead on the primary operation's median wall
seconds (``trace.op_s_p50`` against the untraced run's ``op_s_p50``
context field); ``perfbench/trace_report.py`` does that.

The line before the result carries run context only: the host's load,
calibration and steal block (``envprobe.env_context``), each
operation's seconds and the admitted-id fingerprint. It adjusts no metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import sparkstats
import stats
import tracer as tr
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pulfa_sausage_factory_spark"
CORES = min(4, os.cpu_count() or 1)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_env(work: str) -> None:
    """Session settings, fixed before pyspark starts the JVM: every
    scratch file inside ``work``, no console progress bar, enough
    status-store retention for a whole run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = tmp
    # every JVM pyspark starts (the launcher too): temp files in the work
    # dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_op(run, by_root, per_job, name: str):
    """Median jobs and shuffle MB over the root spans of op ``name``."""
    jobs, shuffle = [], []
    for sp in run.ops.get(name, []):
        js = by_root.get(sp.sid, [])
        jobs.append(len(js))
        shuffle.append(sum(per_job[j.jid].shuffle_write_bytes for j in js) / 1e6)
    return stats.median(jobs), stats.median(shuffle)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans "
                    "(JSON lines) here")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package under {ROOT}: run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark_env(work)
        from pulfa_sausage_factory_spark import envprobe, session

        env0 = envprobe.env_start()
        tracer = tr.Tracer()
        if args.trace:
            tracer.install(PACKAGE)
        with tracer.span("setup.session", "setup") as sp:
            spark = session.get_spark(f"perfbench-{args.workload}")
        session_s = sp.end - sp.start
        spark.sparkContext.setLogLevel("ERROR")
        try:
            run = workloads.Run(spark, tracer, work, args.seed, args.seconds, log)
            out = workloads.WORKLOADS[args.workload](run)
            jobs, stages = sparkstats.read(spark)
            peak = sparkstats.peak_rss_mb(spark)
        finally:
            stop_spark(spark)
        env = envprobe.env_context(env0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    by_span, lost = tr.attribute(tracer.spans, jobs)
    per_job = tr.job_totals(jobs, stages)
    by_root = tr.by_root(tracer.spans, by_span)
    primary = out["primary"]
    op_times = run.times(primary)
    if not op_times:
        log(f"no {primary} operation completed")
        return 1
    jobs_per_op, shuffle_per_op = per_op(run, by_root, per_job, primary)
    m = {
        "setup_s": session_s + out["setup_s"],
        "op_cpu_s": stats.median(run.cpu[primary]),
        "maint_cpu_s": stats.median(out["maint_cpu_s"]),
        "recall": out["recall"],
        "spark_jobs": jobs_per_op,
        "shuffle_mb": shuffle_per_op,
        "peak_rss_mb": peak,
    }
    run.check("every Spark job falls inside a span", not lost,
              [j.jid for j in lost][:5])
    ctx = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "op_s_p50": round(stats.median(op_times), 4),
        "op_times_s": {k: [round(x, 3) for x in run.times(k)] for k in run.ops},
        "op_cpu_s": {k: [round(x, 2) for x in v] for k, v in run.cpu.items()},
        "session_s": round(session_s, 3), "env": env, **run.context,
    }
    t = stats.tail(op_times)
    ctx["op_s_tail"] = ({"p": t[0], "value": round(t[1], 4), "n": len(op_times)}
                        if t else f"n={len(op_times)}: too few for a tail")
    log(f"# {args.workload} seed={args.seed} "
        f"attempted={run.attempted} failed={run.failed} "
        f"error_rate={run.failed / max(1, run.attempted):.4f}")

    if args.trace:
        table = tr.layer_table(tracer.spans, by_span, per_job, CORES)
        metrics = {f"{layer}.{c}": {"value": table[layer][c], "unit": unit}
                   for layer in tr.LAYERS for c, unit in tr.COUNTERS.items()}
        metrics["trace.op_s_p50"] = {"value": stats.median(op_times), "unit": "s"}
        metrics["trace.jobs"] = {"value": len(jobs), "unit": "count"}
        metrics["trace.jobs_attributed"] = {
            "value": sum(len(v) for v in by_span.values()), "unit": "count"}
        ctx["spans"] = len(tracer.spans)
        log(format_table(table, run, primary))
        if args.spans_out:
            tracer.dump(args.spans_out)
    else:
        metrics = {k: {"value": v, "unit": workloads.METRICS[k][0]}
                   for k, v in m.items()}
        for k, v in m.items():
            log(f"  {k:12s} {v:12.4f} {workloads.METRICS[k][0]}")
    print(json.dumps(ctx), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def format_table(table, run, primary: str) -> str:
    cols = ("calls", "wall_s", "self_s", "driver_s", "jobs", "tasks",
            "shuffle_mb", "exec_cpu_s", "slot_idle_frac")
    lines = [f"{'layer':30s}" + "".join(f"{c:>15s}" for c in cols)]
    for layer, row in table.items():
        if row["calls"]:
            lines.append(f"{layer:30s}" + "".join(
                f"{row[c]:15.3f}" for c in cols))
    accounted = []
    for sp in run.ops.get(primary, []):
        dur, own, kids = tr.root_accounting(sp, run.tracer.spans)
        accounted.append(f"{dur:.3f}={own:.3f}+{kids:.3f}")
    lines.append(f"op.{primary} duration = root self + child spans: "
                 + ", ".join(accounted))
    return "\n".join("| " + line for line in lines)


if __name__ == "__main__":
    sys.exit(main())
