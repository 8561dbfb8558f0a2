"""Landing benchmark: NDJSON -> route -> infer -> Hive DDL -> register.

Usage (from the repository root):
  python3 landbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (landbench/build.py), then runs the
workload in a fresh JVM (landbench/src/landbench/Main.scala). With --trace 0
the last stdout line carries the end-to-end metrics of BENCHMARK.json; with
--trace 1 the per-layer ones.
Earlier lines give the run environment, sample counts, the per-op Spark and
JVM counters and, when traced, the self-time breakdown of the op.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("land_flowfiles", "stream_flowfiles")
DEADLINE_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Span names inside the op and the per-layer metric each feeds (scale).
SPAN_METRICS = {
    "schema.routeagg": ("schema.routeagg_s", 1.0),
    "schema.from_json": ("schema.from_json_ms", 1e3),
    "schema.ddl_render": ("schema.ddl_render_ms", 1e3),
    "catalog.register": ("catalog.register_s", 1.0),
}
# Per-layer metrics a workload never exercises; they read 0. Any other
# metric the run did not produce fails it.
NOT_EXERCISED = {
    "land_flowfiles": {"streaming.add_batch_ms", "streaming.latest_offset_ms",
                       "streaming.get_batch_ms", "streaming.query_planning_ms",
                       "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
                       "streaming.trigger_ms", "streaming.ddl_emits"},
    # The stream infers and renders inside InferStream, out of the harness's
    # reach; only its register (onDdl) is timed.
    "stream_flowfiles": {"schema.routeagg_s", "schema.from_json_ms",
                         "schema.ddl_render_ms", "schema.ddl_bytes"},
}


def log(msg):
    print(f"landbench: {msg}", flush=True)


def cpu_ticks():
    """Host-wide (iowait, steal) ticks from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[5]), int(fields[8])
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def tail_pct(xs):
    """op_tail_s as (value, percentile, samples beyond it): the highest
    percentile with at least 10 samples beyond it. A run of fewer than 44
    ops would put that below p75, so it is floored at p75 (nearest rank)."""
    xs = sorted(xs)
    k = min(len(xs) - 1, max(len(xs) - 11, math.ceil(0.75 * len(xs)) - 1))
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


def run_jvm(classes, work, out, args, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work / 'derby'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           f"-Dhive.exec.scratchdir={work / 'hive-scratch'}",
           f"-Dhive.exec.local.scratchdir={work / 'hive-local'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "landbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), str(work), str(out)]
    logf = work.parent / f"{work.name}.log"
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not out.exists():
        sys.stderr.write(logf.read_text()[-6000:])
        sys.exit(f"landbench: JVM for {args.workload} failed ({code})")
    return json.loads(out.read_text())


def counter_table(ops):
    """Per-op median of each spark.* and jvm.* counter, and whether it
    repeats exactly."""
    names = sorted({k for o in ops for k in o["counters"]})
    return {n: (statistics.median(o["counters"][n] for o in ops),
                len({o["counters"][n] for o in ops}) == 1) for n in names}


def end_to_end(res, ops):
    walls = [o["wall_s"] for o in ops]
    tail, pct, beyond = tail_pct(walls)
    failed = sum(not o["ok"] for o in ops)
    log(f"samples: {len(ops)} ops; op_tail_s is p{pct:.1f}, {beyond} ops beyond it; "
        f"op_fail_ratio {failed / len(ops):.4f}")
    log("op walls ms, in order: " + " ".join(f"{w * 1e3:.0f}" for w in walls))
    log(f"setup_s {res['setup_s']:.3f} = " + ", ".join(
        f"{k} {v:.3f}" for k, v in res["setup_phases"].items()) +
        f" + JVM start; prep_s (generation, reference fold; outside setup_s) {res['prep_s']:.3f}")
    log(f"input: {res['record_bytes']:.1f} bytes per line on average")
    return {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail,
        "work_per_s": statistics.median(o["lines"] / o["wall_s"] for o in ops),
        "heap_live_peak_mb": res["heap_live_peak_mb"],
    }


def per_layer(res, ops):
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    by_op = {}
    for s in res["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    layer = []
    for o, arms in zip(traced, res["arms"]):
        m = dict(o["info"])
        m.update(o["counters"])
        m.update(arms)
        for s in by_op.get(o["id"], []):
            if s["name"] in SPAN_METRICS:
                name, scale = SPAN_METRICS[s["name"]]
                m[name] = m.get(name, 0.0) + s["dur_s"] * scale
        layer.append(m)
    # A span metric is the median over the ops that ran the span (the
    # stream registers on one op in five); DDL emits are a mean per op.
    values = {}
    for name in {k for m in layer for k in m}:
        xs = [m[name] for m in layer if name in m]
        values[name] = statistics.fmean(xs) if name == "streaming.ddl_emits" else statistics.median(xs)
    values["catalog.init_s"] = res["setup_phases"]["catalog_init"]
    values["host.ref_ms"] = statistics.median(o["ref_s"] for o in ops) * 1e3
    p_traced = statistics.median(o["wall_s"] for o in traced)
    p_plain = statistics.median(o["wall_s"] for o in plain)
    values["trace.op_p50_s"] = p_traced
    values["trace.overhead_s"] = p_traced - p_plain
    # Self time per span name along the traced ops (arms run outside them).
    selfs = {}
    for k, o in enumerate(traced):
        for s in by_op.get(o["id"], []):
            if not s["name"].startswith("arm"):
                selfs.setdefault(s["name"], [0.0] * len(traced))[k] += s["self_s"]
    for n, v in sorted(selfs.items(), key=lambda x: -statistics.fmean(x[1])):
        log(f"self {n:<24} median {statistics.median(v) * 1e3:10.2f} ms  mean {statistics.fmean(v) * 1e3:10.2f} ms")
    mean_traced = statistics.fmean(o["wall_s"] for o in traced)
    log(f"self times sum to {sum(statistics.fmean(v) for v in selfs.values()):.4f} s per op "
        f"(traced op mean {mean_traced:.4f} s); traced op_p50 {p_traced:.4f} s, untraced "
        f"op_p50 {p_plain:.4f} s, tracing overhead {p_traced - p_plain:+.4f} s")
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    classes = build.build()

    deadline = time.monotonic() + DEADLINE_S
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": os.cpu_count(),
           "loadavg_start": loadavg()}
    ticks0 = cpu_ticks()
    runs = build.build_dir() / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(runs, ignore_errors=True)
    try:
        (runs / "jvm").mkdir(parents=True)
        res = run_jvm(classes, runs / "jvm", runs / "result.json", args, deadline)
    finally:
        shutil.rmtree(runs, ignore_errors=True)
    ticks1 = cpu_ticks()
    ticks = (None, None) if ticks0 is None or ticks1 is None else \
        (ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
    env.update(loadavg_end=loadavg(), iowait_ticks=ticks[0], steal_ticks=ticks[1],
               master=res["master"], jvm_flags=res["jvm_flags"])
    log("env " + json.dumps(env))

    ops = res["ops"]
    log(f"host probe (fixed single-thread JVM loop before each op): median "
        f"{statistics.median(o['ref_s'] for o in ops) * 1e3:.3f} ms")
    for o in ops:
        if not o["ok"]:
            log(f"op {o['id']} failed: {o['error']}")
    values = per_layer(res, ops) if args.trace else end_to_end(res, ops)
    for name, (v, exact) in counter_table(ops).items():
        log(f"per-op {name:<26} {v:16.4f}{'  exact' if exact else ''}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    skipped = NOT_EXERCISED[args.workload] if args.trace else set()
    missing = [m["name"] for m in wanted if m["name"] not in values and m["name"] not in skipped]
    if missing:
        sys.exit(f"landbench: {args.workload} produced no value for {', '.join(missing)}")
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        log(f"{m['name']:<28} {v:14.6f} {m['unit']}" + ("  (not exercised)" if m["name"] in skipped else ""))
    failed = sum(not o["ok"] for o in ops)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
