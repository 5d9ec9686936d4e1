"""graft's streaming benchmark: one command per workload run.

    python3 perfbench/run.py --workload kafka_live --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs the
engine JVM (perfbench/scala/Engine.scala), which forks the load generator
and broker double into a child JVM, then checks the outputs and prints one
JSON line: `correct`, `attempted`, `failed` and the metrics — the
end-to-end ones with `--trace 0`, the per-layer ones with `--trace 1`.
Each run's full record (notes, both metric sets, with `--trace 1` the
spans and per-span self times) is kept under `.bench_runs/`.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("kafka_live", "kafka_catchup")
ENGINE_TIMEOUT_S = 165
UNITS = {
    "latency_p50_ms": "ms", "latency_p99_ms": "ms", "records_per_s": "1/s",
    "task_cpu_us_per_record": "us", "setup_s": "s", "heap_live_mb": "MB",
}
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def layer_unit(name):
    for suffix, unit in (("_ms_p50", "ms"), ("_ms_p99", "ms"), ("_ms_max", "ms"),
                         ("_ns_row", "ns"), ("_mb_s", "MB/s"), ("_rps", "1/s"),
                         ("_mb", "MB"), ("_mb_end", "MB"), ("_s", "s"), ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_engine(args, cp, work, raw_path):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = ["java"] + opens + [
        # no /tmp/hsperfdata files: a run writes only inside the checkout
        "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp,
        "perfbench.EngineMain", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", raw_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: engine timed out after %d s" % ENGINE_TIMEOUT_S, file=sys.stderr)
        return -1
    finally:
        # the engine's process group holds the generator child too
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def tracing_overhead(runs_dir, workload, traced):
    """Each end-to-end metric of this traced run against the median of the
    untraced runs of the same workload kept in `runs_dir`."""
    base = {}
    for f in glob.glob(os.path.join(runs_dir, "%s-*-t0.json" % workload)):
        with open(f) as fh:
            for k, v in json.load(fh)["end_to_end"].items():
                base.setdefault(k, []).append(v)
    return {k: {"traced": traced[k], "untraced_median": metrics.p50(v),
                "untraced_runs": len(v),
                "overhead_pct": 100.0 * (traced[k] / metrics.p50(v) - 1.0)}
            for k, v in base.items() if k in traced and metrics.p50(v)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        print("perfbench: %s holds no graft sources (src/main/scala)" % ROOT, file=sys.stderr)
        return 2

    cp = build.build()
    tag = "%s-s%d-%d" % (args.workload, args.seed, os.getpid())
    work = os.path.join(ROOT, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    try:
        code = run_engine(args, cp, work, raw_path)
        if code != 0 or not os.path.exists(raw_path):
            print("perfbench: engine failed (exit %s)" % code, file=sys.stderr)
            return 1
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct, attempted, failed, e2e, layers, notes = metrics.evaluate(raw)
    chosen = layers if args.trace else e2e
    unmeasured = [k for k, v in chosen.items() if not math.isfinite(v)]
    if unmeasured:
        notes.append("not measured: %s" % ", ".join(unmeasured))
    for n in notes:
        print("perfbench: %s" % n, file=sys.stderr)

    runs_dir = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "attempted": attempted,
              "failed": failed, "notes": notes, "end_to_end": e2e, "per_layer": layers}
    stem = os.path.join(runs_dir, "%s-%d-t%d" % (args.workload, int(time.time() * 1000),
                                                 args.trace))
    if args.trace:
        spans = metrics.resolve_parents(raw["spans"] + metrics.triggers_to_spans(raw["progress"]))
        record["self_time_ms"] = metrics.self_times(spans)
        record["tracing_overhead"] = tracing_overhead(runs_dir, args.workload, e2e)
        for k, o in sorted(record["tracing_overhead"].items()):
            print("perfbench: tracing overhead %s %+.1f%% (traced %.4g vs untraced median "
                  "%.4g of %d runs)" % (k, o["overhead_pct"], o["traced"],
                                        o["untraced_median"], o["untraced_runs"]),
                  file=sys.stderr)
        with open(stem + "-spans.json", "w") as fh:
            json.dump({"run_id": tag, "fields": ["id", "parent", "name", "start_ms", "end_ms"],
                       "spans": spans}, fh)
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if unmeasured:
        return 1
    unit = UNITS.get if not args.trace else layer_unit
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(chosen.items())}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
