"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median and the inter-quartile spread as a share
of the median, against the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/check_spread.py [--seeds 1-10] [--out DIR] [workload ...]
    python3 perfbench/check_spread.py --summarize DIR [DIR2]

Runs are sequential, alternating workloads per seed. With ``--out`` each
run's stdout/stderr is kept there, and ``--summarize`` re-reads such a
directory without running anything. Two gates: every spread but
``setup_s``'s stays within its bound (the ``setup_s`` spread is printed
and flagged, but not gated), and, given a second set of runs ``DIR2``, no
metric's median there is worse than the first set's by more than its
bound.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(out: str, bench: dict, medians: dict | None = None) -> bool:
    """Print and gate one set of runs; fill ``medians[(workload, metric)]``."""
    ok = True
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in [x["name"] for x in bench["workloads"]]:
        results, walls = [], []
        for f in sorted(glob.glob(os.path.join(out, f"{w}-*.out"))):
            lines = open(f).read().strip().splitlines()
            if len(lines) < 2:
                print(f"{f}: no result line")
                ok = False
                continue
            results.append(json.loads(lines[-1]))
            wall = f[:-len(".out")] + ".wall"
            if os.path.exists(wall):
                walls.append(float(open(wall).read()))
        if not results:
            continue
        wrong = sum(not r["correct"] for r in results)
        print(f"{w}: {len(results)} runs, {wrong} incorrect" + (
            f", run wall median {stats.median(walls):.1f} s, max "
            f"{max(walls):.1f} s" if walls else ""))
        ok &= wrong == 0
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            sp = stats.spread(vals) if len(vals) > 1 else 0.0
            flag = ("  OVER BOUND" if sp > bound else
                    "  over bound/3" if sp > bound / 3 else "")
            if name == "setup_s" and flag:
                flag += " (not gated)"
            else:
                ok &= not flag.startswith("  OVER")
            if medians is not None:
                medians[(w, name)] = stats.median(vals)
            print(f"  {name:12s} median {stats.median(vals):11.4f}  "
                  f"spread {sp:6.3f}  bound {bound:4.2f}{flag}")
    return ok


def compare(first: dict, second: dict, bench: dict) -> bool:
    """Whether no median of the second set is worse than the first's by
    more than the metric's bound."""
    ok = True
    print("second set against the first (positive = worse):")
    for m in bench["end_to_end"]:
        for (w, name), a in first.items():
            if name != m["name"] or (w, name) not in second:
                continue
            b = second[(w, name)]
            worse = (b - a) if m["better"] == "lower" else (a - b)
            share = worse / a if a else 0.0
            flag = "  OVER BOUND" if share > m["bound"] else ""
            ok &= not flag
            print(f"  {w:8s} {name:12s} {a:11.4f} -> {b:11.4f}  "
                  f"{share:+7.3f}  bound {m['bound']:4.2f}{flag}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    ap.add_argument("--summarize", metavar="DIR", nargs="+")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.summarize:
        sets = [{} for _ in args.summarize]
        ok = all([summarize(d, bench, m) for d, m in zip(args.summarize, sets)])
        if len(sets) == 2:
            ok &= compare(sets[0], sets[1], bench)
        return 0 if ok else 1
    out = args.out or os.path.join(ROOT, ".bench_work", "spread")
    os.makedirs(out, exist_ok=True)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    for seed in seeds(args.seeds):
        for w in names:
            t0 = time.time()
            with open(os.path.join(out, f"{w}-{seed}.out"), "w") as so, \
                    open(os.path.join(out, f"{w}-{seed}.err"), "w") as se:
                rc = subprocess.run(
                    bench["command"] + ["--workload", w, "--seed", str(seed),
                                        "--seconds", str(bench["run_seconds"]),
                                        "--trace", "0"],
                    stdout=so, stderr=se, cwd=ROOT, timeout=600).returncode
            wall = time.time() - t0
            with open(os.path.join(out, f"{w}-{seed}.wall"), "w") as fh:
                fh.write(f"{wall:.3f}\n")
            print(f"{w} seed {seed}: rc {rc}, {wall:.1f} s", flush=True)
    return 0 if summarize(out, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
