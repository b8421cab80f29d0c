"""graft benchmark: one workload per run, driven through graft's public
API (VectorLibrary and Spark's listener bus) in one JVM at local[nproc].

    python3 graftbench/run.py --workload serve|lifecycle --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles graft and the
benchmark (build.py). Every metric is printed as `name value unit`; the
last line is one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve", "lifecycle")

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ok_rate", "ratio", "higher", 0.02),
    ("ingest_chunks_per_s", "chunks/s", "higher", 0.25),
    ("search_p50_ms", "ms", "lower", 0.25),
    ("search_tail_ms", "ms", "lower", 0.25),
    ("recall_at_10", "ratio", "higher", 0.1),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("maintenance_s", "s", "lower", 0.25),
    ("space_amp", "ratio", "lower", 0.1),
]

SEARCHES = ["search.flat", "search.quantized", "search.lsh", "search.grid"]
READS = SEARCHES + ["batch", "fresh_search"]
WRITES = ["ingest", "build.grid", "update", "append", "delete", "compact", "repair",
          "restore"]
OPS = READS + WRITES
TREES = ["store", "grid"]
MUTATIONS = ["update", "append", "delete"]


def per_layer_specs():
    """(name, unit, better) of every per-layer metric."""
    m = []
    for op in OPS:
        m += [(f"spark.jobs.{op}", "count", "lower"), (f"spark.tasks.{op}", "count", "lower"),
              (f"spark.cpu_s.{op}", "s", "lower")]
    m += [(f"spark.wait_s.{op}", "s", "lower") for op in READS]
    m += [(f"spark.shuffle_bytes.{op}", "bytes", "lower") for op in WRITES]
    m += [(f"VectorLibrary.call_ms.{op}", "ms", "lower") for op in READS]
    m += [(f"VectorLibrary.wall_s.{op}", "s", "lower") for op in WRITES]
    for t in TREES:
        m += [(f"ManifestedTree.files.{t}", "count", "lower"),
              (f"ManifestedTree.bytes.{t}", "bytes", "lower")]
    m += [(f"ManifestedTree.bytes_written.{op}", "bytes", "lower") for op in MUTATIONS]
    m += [("GraftFunctions.live_pins", "count", "lower"),
          ("GraftFunctions.cached_bytes", "bytes", "lower"),
          ("jvm.gc_s", "s", "lower"),
          ("spark.plan_modes", "count", "lower"),
          ("spark.jobs.unattributed", "count", "lower"),
          ("self_s.bench", "s", "lower"),
          ("self_s.VectorLibrary", "s", "lower"),
          ("self_s.spark_collect", "s", "lower"),
          ("trace.overhead_pct", "%", "lower")]
    return m


def end_to_end(raw):
    """End-to-end metrics and a detail note for some of them."""
    sc = raw["scalars"]
    ops = [o for o in raw["ops"] if o[2]]
    by_op = {}
    for o in ops:
        by_op.setdefault(o[0], []).append(o[1])
    serve = raw["workload"] == "serve"
    paths = {op: v for op, v in by_op.items() if op in (SEARCHES if serve else ["fresh_search"])}
    reads = [ms for v in paths.values() for ms in v]
    loop_ops = [o for o in ops if o[0] in ((SEARCHES + ["batch"]) if serve else MUTATIONS)]
    t, tp, tn = stats.tail(reads)
    m = {
        "setup_s": sc["setup_s"],
        "ok_rate": 1.0 - raw["failed"] / raw["attempted"],
        "ingest_chunks_per_s": sc["ingest_chunks_per_s"],
        "search_p50_ms": stats.geomean([stats.median(v) for v in paths.values()]),
        "search_tail_ms": t,
        "recall_at_10": stats.mean_recall(raw["recalls"]),
        "ops_per_s": len(loop_ops) / (sc["loop_s"] - sc["check_s"]),
        "maintenance_s": sc["maintenance_s"],
        "space_amp": sc["space_amp"],
    }
    notes = {"search_p50_ms": "median by path: " + " ".join(
                 f"{k}={stats.median(v):.0f} (n={len(v)})" for k, v in sorted(paths.items())),
             "search_tail_ms": f"p{100 * tp:.1f} n={tn}",
             "ops_per_s": f"{len(loop_ops)} ops in {sc['loop_s'] - sc['check_s']:.2f} s; "
                          + " ".join(f"{k}={stats.median(v):.0f}ms" for k, v in sorted(by_op.items())
                                     if k not in paths)}
    return m, notes


def per_layer(raw):
    """Per-layer metrics of a traced run: per-call means by operation."""
    calls = {}
    for o in raw["ops"]:
        if o[3]:
            calls[o[0]] = calls.get(o[0], 0) + 1
    counters = {}
    for name, c in raw["counters"]:
        acc = counters.setdefault(name, [0, 0, 0, 0, 0])
        for i in range(5):
            acc[i] += c[i]

    def per_call(op, i, scale=1.0):
        n = calls.get(op, 0)
        return counters.get(op, [0] * 5)[i] * scale / n if n else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    sc = raw["scalars"]
    m = {}
    for op in OPS:
        m[f"spark.jobs.{op}"] = per_call(op, 0)
        m[f"spark.tasks.{op}"] = per_call(op, 1)
        m[f"spark.cpu_s.{op}"] = per_call(op, 2, 1e-9)
    for op in READS:
        m[f"spark.wait_s.{op}"] = per_call(op, 3, 1e-3)
        m[f"VectorLibrary.call_ms.{op}"] = mean([ms for o, ms in raw["call_ms"] if o == op])
    for op in WRITES:
        m[f"spark.shuffle_bytes.{op}"] = per_call(op, 4)
        m[f"VectorLibrary.wall_s.{op}"] = mean([o[1] / 1e3 for o in raw["ops"] if o[0] == op and o[2]])
    for t in TREES:
        m[f"ManifestedTree.files.{t}"] = sc.get(f"ManifestedTree.files.{t}", 0.0)
        m[f"ManifestedTree.bytes.{t}"] = sc.get(f"ManifestedTree.bytes.{t}", 0.0)
    for op in MUTATIONS:
        m[f"ManifestedTree.bytes_written.{op}"] = mean([b for o, b in raw["bytes_written"] if o == op])
    m["GraftFunctions.live_pins"] = sc.get("GraftFunctions.live_pins", 0.0)
    m["GraftFunctions.cached_bytes"] = sc.get("GraftFunctions.cached_bytes", 0.0)
    m["jvm.gc_s"] = sc.get("jvm.gc_s", 0.0)
    m["spark.plan_modes"] = float(sum(1 for n in raw["plans"].values() if n > 1))
    m["spark.jobs.unattributed"] = float(counters.get("unattributed", [0])[0])
    spans = [(s[0], s[1], s[3], s[4], s[6]) for s in raw["spans"]]
    own = stats.self_times(spans)
    layer = {"op": "bench", "spark.collect": "spark_collect"}
    selfs = {"bench": 0.0, "VectorLibrary": 0.0, "spark_collect": 0.0}
    for sid, _, _, _, name in spans:
        selfs[layer.get(name, "VectorLibrary")] += own[sid] / 1e9
    for k, v in selfs.items():
        m[f"self_s.{k}"] = v
    on = [o[1] for o in raw["ops"] if o[2] and o[3] and o[0] in READS]
    off = [o[1] for o in raw["ops"] if o[2] and not o[3] and o[0] in READS]
    m["trace.overhead_pct"] = (100.0 * (stats.median(on) / stats.median(off) - 1.0)
                               if on and off else 0.0)
    notes = {"trace.overhead_pct": f"{len(on)} traced vs {len(off)} untraced reads"}
    return m, notes


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, args, work, timeout):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise RuntimeError(f"benchmark JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    try:
        classes = build.build()
    except Exception as e:  # no sources, no toolchain, or a compile error
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.REPO, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the run itself must end within 180 s; a first run's build
        # comes on top of that
        raw = run_jvm(classes, args, work, timeout=170.0)
    except Exception as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        if args.trace and os.path.exists(os.path.join(work, "raw.json")):
            # keep the spans and counters of a traced run for inspection
            shutil.copy(os.path.join(work, "raw.json"), os.path.join(
                os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    for err in raw["errors"]:
        print(f"error: {err}")
    if args.trace:
        values, notes = per_layer(raw)
        units = {n: u for n, u, _ in per_layer_specs()}
    else:
        values, notes = end_to_end(raw)
        units = {n: u for n, u, _, _ in END_TO_END}
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}" + (f"  ({notes[name]})" if name in notes else ""))
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
