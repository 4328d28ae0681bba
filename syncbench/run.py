#!/usr/bin/env python3
"""Incremental-sync benchmark: one command for every workload.

    python3 syncbench/run.py [--workload pg_feed|crawl_nightly|all]
                             [--seed N] [--seconds S] [--trace 0|1]

Builds the engine from source (syncbench/build.py), runs each workload
in its own JVM, and prints every metric by name with its unit. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run
is traced and the metrics are the per-layer ones. The last line of
standard output is one compact JSON object:
{"correct", "attempted", "failed", "metrics"}.

Host-contention diagnostics (load averages, CPU steal, other JVMs) are
printed beside the metrics; they gate nothing. Everything the run
writes stays inside the repository checkout: .bench_build/ (classes),
.bench_work/ (inputs and engine state, removed afterwards) and
.bench_out/ (result, per-pass log and, when traced, the spans).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["pg_feed", "crawl_nightly"]
JVM_TIMEOUT_S = 170
# every metric the benchmark prints, with its unit (BENCHMARK.json gates a subset)
END_TO_END_UNITS = {
    "setup_s": "s", "cold_build_s": "s", "update_pass_s": "s",
    "update_pass_tail_s": "s", "noop_pass_s": "s",
    "write_amplification": "ratio", "peak_rss_mb": "MB", "failed_ratio": "ratio",
}
# the JVM flags Spark on JDK 17 needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_share"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_ticks():
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def other_jvms(exclude=()):
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def host_snapshot(exclude=()):
    l1, l5, _ = os.getloadavg()
    return {"load1": l1, "load5": l5, "steal_ticks": steal_ticks(),
            "other_jvms": other_jvms(exclude)}


def run_jvm(classpath, workload, seed, seconds, trace, cpus):
    """Run one workload in its own JVM; return its result dict."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(out_dir, f"{workload}-s{seed}-t{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    log_path = os.path.join(out_dir, f"{workload}-s{seed}-t{trace}.log")
    # the heap is pinned and pre-touched, so peak RSS does not follow
    # the collector's heap-sizing decisions
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graft.syncbench.SyncBench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", out, "--cpus", str(cpus)])
    before = host_snapshot()
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=ROOT, start_new_session=True)
        jvms_start = other_jvms(exclude={proc.pid})
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            shutil.rmtree(work, ignore_errors=True)
    after = host_snapshot(exclude={proc.pid})
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"syncbench: {workload} JVM exited with code {proc.returncode}")
    with open(out) as fh:
        res = json.load(fh)
    res["host"] = {
        "load1_start": before["load1"], "load5_start": before["load5"],
        "load1_end": after["load1"], "load5_end": after["load5"],
        "steal_ticks": after["steal_ticks"] - before["steal_ticks"],
        "other_jvms": max(jvms_start, after["other_jvms"]),
    }
    with open(out, "w") as fh:
        json.dump(res, fh)
    return res


def as_dict(x):
    return x if isinstance(x, dict) else {}


def show(res, trace):
    w = res["workload"]
    print(f"== {w}  seed={res['seed']}  cpus={res['cpus']}  attempted={res['attempted']}"
          f"  failed={res['failed']}  correct={str(res['correct']).lower()}")
    if trace:
        for name, value in sorted(as_dict(res["per_layer"]).items()):
            print(f"  {name:32s} {fmt(value):>14s} {layer_unit(name)}")
    else:
        e2e = res["end_to_end"]
        tail = res["tail"]
        for name, unit in END_TO_END_UNITS.items():
            note = ""
            if name == "update_pass_tail_s":
                note = (f"  (p{tail['percentile']:.1f} of {tail['samples']} samples)"
                        if tail["percentile"] is not None
                        else f"  (needs >= 11 samples, run has {tail['samples']})")
            print(f"  {name:32s} {fmt(e2e.get(name)):>14s} {unit}{note}")
    for err in res["errors"]:
        print(f"  error: {err}")
    print(f"  host: {json.dumps(res['host'], sort_keys=True)}")


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def summary(results, trace, spec):
    """One compact JSON line: exactly correct/attempted/failed/metrics.

    For one workload the metrics are every end-to-end (or, traced, every
    per-layer) metric of BENCHMARK.json. For several, names are prefixed
    with the workload, and a traced summary keeps only the spark.* ones so
    the line stays under 2,000 characters."""
    key = "per_layer" if trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in spec[key]]
    if len(results) > 1 and trace:
        names = [(n, u) for n, u in names if n.startswith("spark.")]
    metrics = {}
    for res in results:
        prefix = "" if len(results) == 1 else res["workload"] + "."
        values = as_dict(res[key])
        for name, unit in names:
            if values.get(name) is not None:
                metrics[prefix + name] = {"value": values[name], "unit": unit}
    line = {
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }
    return json.dumps(line, separators=(",", ":"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        sys.exit("syncbench: BENCHMARK.json is missing at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    classpath = build.build()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = [run_jvm(classpath, w, args.seed, seconds, args.trace, cpu_count())
               for w in workloads]
    for res in results:
        show(res, args.trace)
        if len(results) > 1:
            print(f"{res['workload']}: {summary([res], args.trace, spec)}")
    print(summary(results, args.trace, spec), flush=True)


if __name__ == "__main__":
    main()
