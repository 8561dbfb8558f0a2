"""Pair a parent revision against the working tree on one landbench workload.

Usage (from the repository root):
  python3 tools/landpair.py --parent <rev> --workload <w> --seeds <a-b> [--seconds 15] [--trace]

Clones <rev> of this repository into a scratch directory (--scratch, by
default a fresh temporary one) and runs `landbench/run.py --trace 0` in both
trees once per seed, alternating which side runs first. Prints, per seed,
each side's end-to-end metrics with `attempted`/`failed`; then, per metric,
each side's median and quartiles, how many seeds the change won, and
whether the gain is claimable: the change wins at least 9 of 10 pairs and
the medians differ by more than the parent's interquartile range.

With --trace the runs are traced (`run.py --trace 1`) and it prints, per
seed and then as each side's median and quartiles, the per-layer metrics
that attribute a streaming op's time: `streaming.*_ms`, `spark.driver_s`,
`jvm.cpu_s` and `trace.op_p50_s`, next to the load-insensitive work an op
did: `spark.jobs`, `spark.executor_run_s` and `jvm.alloc_mb`. Traced runs
carry no end-to-end metrics, so they show where time went, never a claim.

It only calls run.py; nothing under landbench/ is edited. Do not edit the
sources while a series runs: the build hashes them and would rebuild.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def run(tree, workload, seed, seconds, trace):
    """The last stdout line of one run.py call, parsed; None when it failed."""
    cmd = [sys.executable, "landbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(f"landpair: {tree} seed {seed} failed ({p.returncode}): "
                         f"{p.stderr.strip()[-400:]}\n")
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a-b, inclusive")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--scratch", help="directory for the parent clone (default: a new temp dir)")
    ap.add_argument("--trace", action="store_true",
                    help="run traced and print the per-layer medians of a streaming op instead")
    args = ap.parse_args()

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    if args.trace:
        better = {m["name"]: m["better"] for m in spec["per_layer"]
                  if m["name"].startswith("streaming.") and m["name"].endswith("_ms")
                  or m["name"] in ("spark.driver_s", "jvm.cpu_s", "trace.op_p50_s",
                                   "spark.jobs", "spark.executor_run_s", "jvm.alloc_mb")}
    scratch = Path(args.scratch or tempfile.mkdtemp(prefix="landpair-"))
    parent = scratch / "parent"
    if not parent.exists():
        subprocess.run(["git", "clone", "-q", str(REPO), str(parent)], check=True)
    subprocess.run(["git", "-C", str(parent), "checkout", "-q", args.parent], check=True)
    sides = {"parent": parent, "change": REPO}

    results = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        out = {side: run(sides[side], args.workload, seed, args.seconds, args.trace) for side in order}
        for side in ("parent", "change"):
            r = out[side]
            results[side].append(r)
            if r is None:
                print(f"seed {seed} {side:<6} FAILED TO RUN", flush=True)
                continue
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items() if k in better)
            print(f"seed {seed} {side:<6} attempted={r['attempted']} failed={r['failed']} {vals}",
                  flush=True)

    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"\n{len(pairs)} complete pairs on {args.workload}")
    for name, direction in better.items():
        ps = [p["metrics"][name]["value"] for p, _ in pairs]
        cs = [c["metrics"][name]["value"] for _, c in pairs]
        if not ps:
            continue
        wins = sum((c < p) if direction == "lower" else (c > p) for p, c in zip(ps, cs))
        pq, cq = quartiles(ps), quartiles(cs)
        gap = cq[1] - pq[1] if direction == "higher" else pq[1] - cq[1]
        claim = wins >= 0.9 * len(pairs) and gap > pq[2] - pq[0]
        verdict = "" if args.trace else f"  claimable={'yes' if claim else 'no'}"
        print(f"{name:<28} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"wins {wins}/{len(pairs)}{verdict}")
    failed = sum(r["failed"] for side in results.values() for r in side if r)
    print(f"failed ops across all runs: {failed}")


if __name__ == "__main__":
    main()
