"""Benchmark for graft: one workload per call, in its own JVM.

    python3 perfbench/run.py --workload wordcount|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first call builds graft and
the harness with sbt (cached by a hash of the sources); inputs are
generated from the seed (cached per seed). One client runs a closed loop
on local[nproc] for S seconds. Every output is checked. The last line of
stdout is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. See NOTES.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import gen
import verify

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("wordcount", "query_mix")
MIB = 1024.0 * 1024.0

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# graft's build.sbt.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to {HERE}; run from a graft checkout")
    stamp = source_hash()
    cp_file = os.path.join(WORK, "classpath")
    try:
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    except (OSError, ValueError):
        pass
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


def host_context():
    with open("/proc/meminfo") as fh:
        mem = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc ^= i * 2654435761
    return {"nproc": os.cpu_count(), "mem_total_mib": round(mem / 1024),
            "loadavg": list(os.getloadavg()),
            "cpu_probe_s": time.perf_counter() - t0}


def jvm(cp, cores, log, args, deadline):
    """Run the harness; -> (seconds from launch until its SparkSession is
    ready, peak RSS in MiB, the observations it wrote)."""
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap keeps run times from following heap-growth
    # heuristics; peak_heap_mib reports the part of it the work holds
    cmd = [java, *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={WORK}/tmp", "-cp", cp, "graft.perfbench.Main",
           "--work", WORK, "--result", result, "--cores", str(cores), *args]
    with open(log, "w") as fh:
        t0 = time.time()
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                fail(f"harness did not finish in time; see {log}")
            time.sleep(0.05)
    rc = os.waitstatus_to_exitcode(status)
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exit {rc}; see {log}")
    with open(result) as fh:
        obs = json.load(fh)
    return obs["setup_end_ms"] / 1000.0 - t0, usage.ru_maxrss / 1024.0, obs


def pct(xs, q):
    """The q-quantile (0..1) of xs by linear interpolation."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def wall_s(workload, ops):
    """Median time of one operation, or of one whole pass over the query
    mix (shared builds included)."""
    lat = [o["wall_s"] for o in ops]
    if workload == "query_mix":
        n = len({o["name"] for o in ops})
        return statistics.median(sum(lat[i:i + n]) for i in range(0, len(lat), n))
    return statistics.median(lat)


def latencies(ops):
    """Per-operation latency as the harness timed it, leaving out the
    query mix's first dedup-ladder query of each pass: it pays the shared
    signature build, counts in wall_s, and is reported on its own as
    singleflight.first_ladder_s."""
    return [o["wall_s"] for o in ops if not o["first_ladder"]]


def end_to_end(workload, ops, setup, rss, heap, manifest):
    wall = wall_s(workload, ops)
    lat = latencies(ops)
    return {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "input_mib_per_s": (manifest["bytes"] / MIB / wall, "MiB/s"),
        "query_p50_s": (pct(lat, 0.5), "s"),
        "query_p80_s": (pct(lat, 0.8), "s"),
        "peak_rss_mib": (rss, "MiB"),
        "peak_heap_mib": (heap, "MiB"),
    }


def union_s(intervals):
    """Seconds covered by a set of (start_ms, end_ms) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def self_times(o):
    """Split one traced operation's wall time into layer self-times."""
    e = o["engine"]
    jobs = e["jobs"]
    list_jobs = [(a, b) for a, b, listing in jobs if listing]
    exec_jobs = [(a, b) for a, b, listing in jobs if not listing]
    s0, s1 = o["sink_span"]
    in_sink = [b for a, b in exec_jobs if s0 <= a and b <= s1]
    st = {
        "sources": o["list_s"] + union_s(list_jobs),
        "plan": e["plan_s"],
        "exec": union_s(exec_jobs),
        "sink": (s1 - max(in_sink)) / 1000.0 if in_sink else 0.0,
    }
    st["operators"] = max(0.0, o["wall_s"] - sum(st.values()))
    return st


def per_layer(workload, ops, cores):
    """Per-layer means per operation, the mean self-time split, and the
    mean time of each timed call into graft."""
    n = len(ops)
    m, report, calls = {}, {}, {}
    for o in ops:
        e, st = o["engine"], self_times(o)
        vals = {
            "sources.list_s": st["sources"],
            "sources.list_tasks": e["list_tasks"],
            "sources.files": o["files"],
            "sources.scan_tasks": e["scan_tasks"],
            "sources.input_mib": e["input_bytes"] / MIB,
            "plan.plan_s": e["plan_s"],
            "plan.jobs": len(e["jobs"]),
            "plan.stages": e["stages"],
            "exec.tasks": e["tasks"],
            "exec.task_run_s": e["task_run_s"],
            "exec.task_cpu_s": e["task_cpu_s"],
            "exec.gc_s": e["gc_s"],
            "exec.job_wall_s": st["exec"],
            "shuffle.write_mib": e["shuffle_write_bytes"] / MIB,
            "shuffle.read_mib": e["shuffle_read_bytes"] / MIB,
            "shuffle.spill_mib": e["spill_bytes"] / MIB,
            "operators.call_s": sum(o["calls"].values()),
            "operators.self_s": st["operators"],
            "singleflight.build_s": o["build_s"],
            "sink.write_s": o["sink_s"],
            "sink.commit_s": st["sink"],
            "sink.output_mib": e["output_bytes"] / MIB,
        }
        for k, v in vals.items():
            m[k] = m.get(k, 0.0) + v / n
        for k, v in st.items():
            report[k] = report.get(k, 0.0) + v / n
        for k, v in o["calls"].items():
            calls[f"operators.{k}_s"] = calls.get(f"operators.{k}_s", 0.0) + v / n
    first = [o["wall_s"] for o in ops if o["first_ladder"]]
    m["singleflight.first_ladder_s"] = statistics.median(first) if first else 0.0
    m["exec.core_util"] = m["exec.task_run_s"] * n / (
        sum(o["wall_s"] for o in ops) * cores)
    # the statistic of the untraced wall_s, so the difference is the
    # tracing overhead
    m["trace.wall_s"] = wall_s(workload, ops)
    return m, report, calls


UNITS = {"_s": "s", "_mib": "MiB", "_util": "ratio"}


def unit(name):
    return next((u for sfx, u in UNITS.items() if name.endswith(sfx)), "count")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    host = host_context()
    cores = os.cpu_count()
    for d in ("tmp", "data", "out", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cp = build()
    # the query mix reads the same tables for every seed; its seed orders
    # the queries
    data_seed = gen.QM_DATA_SEED if a.workload == "query_mix" else a.seed
    data, manifest = gen.cached(a.workload, data_seed, os.path.join(WORK, "data"))
    out = os.path.join(WORK, "out", a.workload)
    verify.clear(out)
    base = ["--workload", a.workload, "--input", data, "--out", out,
            "--seed", str(a.seed), "--trace", str(a.trace)]
    start, rss, obs = jvm(cp, cores, os.path.join(WORK, "logs", f"{a.workload}.log"),
                          base + ["--seconds", str(a.seconds)], time.time() + 150)
    # cold start until the SparkSession is ready, plus the untimed warm-up
    setup = start + obs["warm_up_s"]
    ops = obs["ops"]
    failures = verify.check(a.workload, ops, manifest, data, out)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failures)
    for name, why in sorted(failures.items()):
        print(f"WRONG {name}: {why}")
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['name']}: {o['error']}")
    if a.trace:
        metrics, report, calls = per_layer(a.workload, ops, cores)
        metrics = {k: (v, unit(k)) for k, v in metrics.items()}
        print("trace report, mean self-time per operation (s): " +
              json.dumps({k: round(v, 4) for k, v in report.items()}))
        print("trace report, mean time of each timed call per operation (s): " +
              json.dumps({k: round(v, 4) for k, v in calls.items()}))
    else:
        metrics = end_to_end(a.workload, ops, setup, rss,
                             obs["peak_heap_bytes"] / MIB, manifest)
    verify.clear(out)
    for k, (v, u) in sorted(metrics.items()):
        print(f"{a.workload:10s} {k:24s} {v:14.6f} {u}")
    print(f"{a.workload:10s} {'failed_frac':24s} {failed / len(ops):14.6f} ratio"
          f"  ({failed} of {len(ops)} operations)")
    print("host " + json.dumps(host))
    art = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "host": host, "start_s": start,
           "warm_up_s": obs["warm_up_s"],
           "latencies_s": [[o["name"], o["wall_s"], o["first_ladder"]]
                           for o in ops],
           "ops": len(ops), "failed": failed,
           "metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(os.path.join(WORK, "logs",
                           f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(art, fh)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
