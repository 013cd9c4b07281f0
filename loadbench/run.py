#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads, end-to-end
metrics from an untraced pass, per-layer metrics from a traced pass.

Run from the repository root:

  python3 loadbench/run.py --workload grid_to_table --seed 1 --seconds 12 --trace 0
  python3 loadbench/run.py --workload curate_corpus --seed 1 --seconds 12 --trace 1
  python3 loadbench/run.py --steadiness 10 --workload maintain_index --seconds 12

The first run compiles the engine and the benchmark (loadbench/build.sh)
into .bench_build/loadbench; later runs reuse the build while the sources
are unchanged. Each run starts one JVM (loadbench/src, Main.scala) with
fixed heap, GC flags and Spark conf, reads the raw samples, spans and
counters it writes, and prints two JSON lines: the run record (context,
checks, latencies) and, last, the result: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).
See loadbench/README.md for the workloads and every metric.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("grid_to_table", "curate_corpus", "maintain_index")
BUILD = os.path.join(".bench_build", "loadbench")
CORES = min(2, os.cpu_count() or 1)
# A JVM that cannot finish in this time is killed and the run fails, so the
# whole run stays inside the 180 s a run may take.
JVM_TIMEOUT_S = 165
JVM_FLAGS = ["-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-Xss4m",
             "-XX:-UsePerfData"] + [
    arg
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for arg in ("--add-opens", "java.base/%s=ALL-UNNAMED" % pkg)
]

# The latencies each workload's run record reports, by name: the sample
# series they come from ("iter" is the whole iteration).
LATENCIES = {
    "grid_to_table": {"req": "iter"},
    "curate_corpus": {"shard": "iter"},
    "maintain_index": {"publish": "publish", "search": "search"},
}

SPANS = (
    "sources.LakeAdapter.load",
    "operators.SpatialResample.bilinear",
    "operators.TemporalResample.downsample",
    "operators.PointExtract.pointsToTable",
    "sources.TableSink.write",
    "operators.Gssha.wesRows",
    "ops.TextAnalysis.gopherRules",
    "ops.Dedup.exactDedup",
    "ops.Dedup.minhashNearDups",
    "ops.Dedup.dupClusters",
    "ops.Dedup.dedupKeepBest",
    "ops.TextAnalysis.bigramCrossEntropy",
    "ops.Sampling.packSequences",
    "ops.Profile.dataCard",
    "ops.Dedup.incrementalMinhashDedup",
    "ops.Dedup.minhashBandIndex",
    "ops.Ivf.append",
    "sources.Manifest.publish",
    "ops.Dedup.retractFromIndex",
    "ops.Ivf.search",
    "sources.Manifest.read",
)
COUNTERS = (
    ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("records_read", "count"), ("shuffle_bytes", "B"), ("gc_ms", "ms"),
)


class BenchError(Exception):
    pass


def log(msg):
    print("[loadbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    files = []
    for top in (os.path.join("src", "main", "scala"), os.path.join("loadbench", "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join("loadbench", "build.sh")]


def build():
    """Compile unless the classes were built from the current sources."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        raise BenchError("no engine sources (src/main/scala); run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log("building %s" % classes)
    t0 = time.time()
    subprocess.run(["bash", os.path.join("loadbench", "build.sh"), BUILD],
                   stdout=sys.stderr, check=True, timeout=850)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log("built in %.0f s" % (time.time() - t0))
    return classes


# ---------------------------------------------------------------- one run

def steal_ticks():
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def run_jvm(classes, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    # the JVM's temp files (native libraries Spark unpacks) stay in the checkout
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    cmd = ["java"] + JVM_FLAGS + [
        "-Djava.io.tmpdir=" + tmp, "-cp", classes + os.pathsep + jars, "loadbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(CORES),
        "--work", work, "--out", out,
    ]
    jvm_log = os.path.join(BUILD, "jvm.log")
    steal0 = steal_ticks()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("the benchmark JVM ran past %d s" % JVM_TIMEOUT_S)
    steal = steal_ticks() - steal0
    if code != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise BenchError("the benchmark JVM failed with exit code %d (log: %s)" % (code, jvm_log))
    with open(out) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return raw, steal


def latency(samples_ns):
    xs = [x / 1e9 for x in samples_ns]
    return {
        "samples": len(xs),
        "mean_s": sum(xs) / len(xs),
        "p50_s": stats.percentile(xs, 0.5),
        "p75_s": stats.percentile(xs, 0.75),
        "samples_s": [round(x, 4) for x in xs],
    }


# The end-to-end metrics a --trace 0 result reports (BENCHMARK.json's).
GATED = ("setup_s", "run_per_probe", "cpu_per_probe", "peak_rss_mb", "heap_live_mb", "write_amp")


def end_to_end(raw):
    u = raw["untraced"]
    probe_s = sum(u["samples"]["probe"]) / len(u["samples"]["probe"]) / 1e9
    return {
        "setup_s": ((raw["setup_end_ms"] - raw["jvm_start_ms"]) / 1e3, "s"),
        "run_s": (u["run_ns"] / 1e9, "s"),
        "cpu_s": (u["cpu_ns"] / 1e9, "s"),
        "probe_s": (probe_s, "s"),
        "run_per_probe": (u["run_ns"] / 1e9 / probe_s, "ratio"),
        "cpu_per_probe": (u["cpu_ns"] / 1e9 / probe_s, "ratio"),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024, "MB"),
        "heap_live_mb": (raw["heap_live_bytes"] / 2 ** 20, "MB"),
        "write_amp": (raw["written_bytes"] / raw["user_bytes"], "ratio"),
    }


def per_layer(raw):
    """Per-span metrics of the traced pass: self_s is the median self time
    per call; the counts and gc_ms are per-call means over the run."""
    spans = [
        {"id": s[0], "parent": s[1], "name": s[2], "iter": s[3], "start": s[4],
         "end": s[5], "gc": s[6], "rows": s[7], **raw["span_counters"][str(s[0])]}
        for s in raw["spans"]
    ]
    self_ns = stats.self_times(spans)
    child_gc = {}
    for s in spans:
        child_gc[s["parent"]] = child_gc.get(s["parent"], 0) + s["gc"]
    metrics = {}
    for name in SPANS:
        calls = [s for s in spans if s["name"] == name]
        n = len(calls)
        vals = {
            "self_s": stats.median([self_ns[s["id"]] / 1e9 for s in calls]) if n else 0.0,
            "gc_ms": sum(max(0, s["gc"] - child_gc.get(s["id"], 0)) for s in calls) / n if n else 0.0,
        }
        for c in ("jobs", "tasks", "records_read", "shuffle_bytes"):
            vals[c] = sum(s[c] for s in calls) / n if n else 0.0
        for c, unit in COUNTERS:
            metrics["%s.%s" % (name, c)] = (vals[c], unit)
    loads = [s for s in spans if s["name"] == "sources.LakeAdapter.load"]
    read = sum(s["records_read"] for s in loads)
    metrics["sources.LakeAdapter.load.scan_yield"] = (
        sum(s["rows"] for s in loads) / read if read else 0.0, "ratio")
    metrics["trace_overhead"] = (raw["traced"]["run_ns"] / raw["untraced"]["run_ns"], "ratio")
    # equal work: every timed iteration runs the same jobs and tasks
    per_iter = {}
    for s in spans:
        w = per_iter.setdefault(s["iter"], [0, 0])
        w[0] += s["jobs"]
        w[1] += s["tasks"]
    work = {
        "jobs": sorted({w[0] for w in per_iter.values()}),
        "tasks": sorted({w[1] for w in per_iter.values()}),
    }
    return metrics, work


def run_once(workload, seed, seconds, trace):
    classes = build()
    raw, steal = run_jvm(classes, workload, seed, seconds, trace)
    u = raw["untraced"]
    e2e = end_to_end(raw)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "iterations": raw["iterations"],
        "warmups": raw["warmups"],
        "check": raw["check"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "latency": {name: latency(u["samples"][key])
                    for name, key in list(LATENCIES[workload].items()) + [("probe", "probe")]},
        "context": {
            "nproc": os.cpu_count(),
            "cores": raw["cores"],
            "jvm_flags": raw["jvm_flags"],
            "spark_conf": raw["spark_conf"],
            "git_commit": git_commit(),
            "steal_ticks": steal,
            "setup_phases_s": {
                "session": (raw["session_ms"] - raw["jvm_start_ms"]) / 1e3,
                "inputs": (raw["inputs_ms"] - raw["session_ms"]) / 1e3,
                "warmups": (raw["setup_end_ms"] - raw["inputs_ms"]) / 1e3,
            },
            "input_rows": raw["input_rows"],
            "input_bytes": raw["input_bytes"],
            "spill_bytes": u["counters"]["spill_mem_bytes"] + u["counters"]["spill_disk_bytes"],
            "shuffle_bytes": u["counters"]["shuffle_bytes"],
            "jobs": u["counters"]["jobs"],
            "tasks": u["counters"]["tasks"],
            "written_bytes": raw["written_bytes"],
            "user_bytes": raw["user_bytes"],
            "held_at_end": raw["held_end"],
            "persisted_rdds_per_iteration": u["held_per_iteration"],
        },
    }
    if trace:
        layer, work = per_layer(raw)
        record["per_iteration_work"] = work
        record["equal_work"] = len(work["jobs"]) == 1 and len(work["tasks"]) == 1
        metrics = layer
    else:
        metrics = {k: e2e[k] for k in GATED}
    result = {
        "correct": raw["check"]["failed"] == 0,
        "attempted": raw["check"]["attempted"],
        "failed": raw["check"]["failed"],
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    return record, result, u["samples"]


# ---------------------------------------------------------------- steadiness

def steadiness(workload, runs, seed0, seconds, trace):
    """Run a workload `runs` times on seeds seed0.. and print, per metric,
    the median, the interquartile range and IQR/median beside the metric's
    bound in BENCHMARK.json (the spread the bound must cover)."""
    bounds = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as fh:
            bench = json.load(fh)
        bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}
    values, pooled, failed, per_run = {}, {}, 0, []
    for k in range(runs):
        record, result, samples = run_once(workload, seed0 + k, seconds, trace)
        failed += result["failed"]
        per_run.append({"seed": seed0 + k, "steal_ticks": record["context"]["steal_ticks"],
                        "latency_s": {n: v["samples_s"] for n, v in record["latency"].items()},
                        "end_to_end": record["end_to_end"]})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        for name, key in LATENCIES[workload].items():
            pooled.setdefault(name, []).extend(x / 1e9 for x in samples[key])
        log("run %d/%d seed %d, %d steal ticks: %s" % (
            k + 1, runs, seed0 + k, record["context"]["steal_ticks"], json.dumps(
                {n: round(m["value"], 4) for n, m in result["metrics"].items()
                 if n in bounds or not bounds})))
    rows = {}
    print("%-40s %12s %12s %9s %7s %s" % ("metric", "median", "iqr", "iqr/med", "bound", "ok"))
    for name, vals in values.items():
        if len(vals) < 2 or statistics.median(vals) == 0:
            continue
        med, q1, q3, rel = stats.spread(vals)
        bound = bounds.get(name)
        ok = None if bound is None or name == "setup_s" else rel <= bound / 3
        rows[name] = {"median": med, "q1": q1, "q3": q3, "iqr_over_median": rel,
                      "bound": bound, "within_third_of_bound": ok}
        print("%-40s %12.4f %12.4f %9.4f %7s %s" % (
            name, med, q3 - q1, rel, "-" if bound is None else bound, "-" if ok is None else ok))
    # latency percentiles from the samples of all runs pooled, under the
    # same ten-beyond rule as a single run
    lat = {}
    for name, xs in pooled.items():
        lat[name] = {"samples": len(xs), "p50_s": stats.percentile(xs, 0.5),
                     "p75_s": stats.percentile(xs, 0.75)}
        print("pooled %-8s n=%-4d p50_s=%s p75_s=%s" % (
            name, len(xs), lat[name]["p50_s"], lat[name]["p75_s"]))
    print(json.dumps({"workload": workload, "runs": runs, "seconds": seconds,
                      "failed": failed, "metrics": rows, "pooled_latency": lat,
                      "per_run": per_run}))


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, metavar="N",
                    help="run N times on seeds seed..seed+N-1 and print each metric's spread")
    args = ap.parse_args()
    try:
        if args.steadiness:
            steadiness(args.workload, args.steadiness, args.seed, args.seconds, args.trace)
            return 0
        record, result, _ = run_once(args.workload, args.seed, args.seconds, args.trace)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        log("failed: %s" % e)
        return 1
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
