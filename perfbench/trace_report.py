"""Per-layer report with tracing overhead, for one seed of each workload.

    python3 perfbench/trace_report.py [--seed N] [--seconds S] [workload ...]

Runs ``run.py`` untraced and then traced on the same seed, prints the
traced run's per-layer table (run.py writes it to stderr), whether span
job totals equal the run's Spark job count, and the tracing overhead on
``op_s_p50``: traced minus untraced, as a share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(HERE))
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}")
    *_, context, result = proc.stdout.strip().splitlines()
    return json.loads(context), json.loads(result), proc.stderr


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("workloads", nargs="*", default=["ingest", "serve"])
    args = ap.parse_args()
    for w in args.workloads:
        ctx, plain, _ = run(w, args.seed, args.seconds, 0)
        _, traced, err = run(w, args.seed, args.seconds, 1)
        m = traced["metrics"]
        table = [line for line in err.splitlines() if line.startswith("| ")]
        base = ctx["op_s_p50"]  # wall seconds, a context field
        with_trace = m["trace.op_s_p50"]["value"]
        print(f"== {w} (seed {args.seed}, correct: untraced "
              f"{plain['correct']}, traced {traced['correct']})")
        print("\n".join(table))
        print(f"span jobs {m['trace.jobs_attributed']['value']:.0f} of "
              f"{m['trace.jobs']['value']:.0f} Spark jobs")
        print(f"op_s_p50 untraced {base:.3f} s, traced {with_trace:.3f} s: "
              f"tracing overhead {(with_trace - base) / base:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
