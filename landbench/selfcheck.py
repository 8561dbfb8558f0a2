"""Self-check of the landing benchmark: runs the same code repeatedly and
reports the spread of each end-to-end metric against its bound.

Usage (from the repository root):
  python3 landbench/selfcheck.py

Two sets, each running every workload of BENCHMARK.json once per seed 1..10
with its run_seconds. For each metric it prints the median, the quartile
spread (Q3 - Q1) / median of each set, and how far the second set's median
moved from the first's, either way, each next to the metric's bound. Exits 1
if a spread or a move exceeds its bound. The spread of setup_s is printed
but not gated: a run sets up once, so its spread is the host's swing over
the set; the move of its median is gated like every other. Each run's line
also gives the host probe's median and the host's iowait and steal ticks.
"""
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SEEDS = range(1, 11)
SETS = 2


def run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, str(ROOT / "landbench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"selfcheck: {workload} seed {seed} exited {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        print(p.stdout)
        sys.exit(f"selfcheck: {workload} seed {seed} failed its output checks")
    # The host's speed and contention during the run, to tell a slow host
    # from a slow program.
    probe = re.search(r"host probe .* median ([0-9.]+) ms", p.stdout)
    env = json.loads(re.search(r"landbench: env (.*)", p.stdout).group(1))
    host = (f"host probe {probe.group(1) if probe else '?'} ms, iowait {env['iowait_ticks']} "
            f"steal {env['steal_ticks']} ticks")
    return {k: v["value"] for k, v in out["metrics"].items()}, time.monotonic() - t0, host


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        sets = []
        for _ in range(SETS):
            rows = []
            for seed in SEEDS:
                vals, secs, host = run(w, seed, spec["run_seconds"])
                rows.append(vals)
                print(f"{w} seed {seed} ({secs:.0f} s): " +
                      " ".join(f"{k}={v:.4g}" for k, v in vals.items()) + f"; {host}", flush=True)
            sets.append(rows)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = [statistics.median(r[name] for r in rows) for rows in sets]
            spreads = [spread([r[name] for r in rows]) for rows in sets]
            moved = (meds[1] - meds[0]) / meds[0]
            flag = ""
            if name != "setup_s" and max(spreads) > bound:
                flag += "  SPREAD>BOUND"
            if abs(moved) > bound:
                flag += "  MEDIAN-MOVED>BOUND"
            ok = ok and not flag
            print(f"{w:<18} {name:<18} median {meds[0]:.4g}  spreads " +
                  " ".join(f"{s:.3f}" for s in spreads) + f"  (bound {bound}, third {bound / 3:.3f})" +
                  f"  moved {moved:+.3f}" + flag, flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
