#!/usr/bin/env python3
"""graft benchmark: one workload, one client, one fresh JVM on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (build.py),
runs the workload in a child JVM with build.sbt's JVM flags, prints every
metric as `name value unit`, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. Workloads and the
metric -> layer map are described in perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dedup_multimodal", "sketch_queries")
STAGES = ("signatures", "candidates", "verify", "cc")
CHILD_TIMEOUT_S = 165

# build.sbt's javaOptions: JDK 17 module opens, -Xms = -Xmx, pre-touched
# heap, throughput GC
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def benchmark_spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def driver_mem():
    """Heap size of the Tier-1 command: half of RAM in GiB, clamped to 2..8."""
    kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def jvm_cmd(classpath, mem, tmp, args):
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{mem}", f"-Xms{mem}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}"]
    return ["java"] + opts + ["-cp", classpath, "graftbench.Main"] + args


def run_child(cmd, deadline):
    """Runs one child JVM in its own process group; returns its GRAFTBENCH
    record, or None. The group is killed on timeout and always reaped."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("run: child JVM timed out", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        print(f"run: child JVM exited with {proc.returncode}", file=sys.stderr)
        return None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH "):
            return json.loads(line[len("GRAFTBENCH "):])
    return None


def host_stamp(tree_hash):
    commit = None
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    with open("/proc/meminfo") as fh:
        ram_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return {
        "commit": commit or f"tree-{tree_hash[:12]}",
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_kb / 1048576, 1),
        "free_disk_gb": round(shutil.disk_usage(build.ROOT).free / 1e9, 1),
    }


def scaling(metrics, leg):
    """Single-core leg vs the traced run's local[nproc] staged pipeline:
    efficiency = (wall at 1 core / wall at N cores) / N."""
    n = metrics["cpus"]
    multi = {s: metrics[f"pipeline.{s}.wall_s"] for s in STAGES}
    out = {"scaling.eff_1to4": leg["total_s"] / sum(multi.values()) / n}
    for s in STAGES:
        out[f"scaling.{s}.eff"] = leg[f"{s}.wall_s"] / multi[s] / n if multi[s] > 0 else 0.0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still kills and reaps its child JVM (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = benchmark_spec()
    t_start = time.time()
    classpath, tree_hash = build.build()
    # a build in this invocation gets its own time on top of the run's
    deadline = time.time() + CHILD_TIMEOUT_S
    cpus = len(os.sched_getaffinity(0))
    mem = driver_mem()
    scratch = os.path.join(build.ROOT, ".bench_scratch", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    stamp = host_stamp(tree_hash)
    try:
        child = ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--scratch", scratch, "--cpus", str(cpus),
                 "--expected", os.path.join(HERE, "expected_digests.txt")]
        rec = run_child(jvm_cmd(classpath, mem, tmp, child), deadline)
        if rec is None:
            sys.exit(1)
        metrics = rec["metrics"]
        metrics["cpus"] = cpus
        if args.trace and args.workload == "dedup_multimodal":
            leg = run_child(jvm_cmd(classpath, mem, tmp,
                                    ["--mode", "scaling-leg", "--scratch", scratch, "--cpus", "1",
                                     "--input", os.path.join(scratch, "input")]), deadline)
            if leg is None:
                sys.exit(1)
            metrics.update(scaling(metrics, leg))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    p0, p1 = metrics["host.probe_before_mops"], metrics["host.probe_after_mops"]
    metrics["host.probe_mops"] = (p0 + p1) / 2
    # the host's single-core speed has been seen to drop ~3x for minutes;
    # a run whose probes disagree by more than 1.5x is flagged, not dropped
    flagged = min(p0, p1) / max(p0, p1) < 1 / 1.5
    attempted, failed = rec["attempted"], rec["failed"]
    correct = failed == 0
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in names:
        v = metrics.get(m["name"], 0.0)
        out[m["name"]] = {"value": 0.0 if v is None or (isinstance(v, float) and math.isnan(v)) else v,
                          "unit": m["unit"]}

    print(json.dumps({"stamp": stamp, "workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace, "heap": mem,
                      "wall_s": round(time.time() - t_start, 1), "host_flagged": flagged,
                      "failures": rec["failures"], "spans": rec["spans"],
                      "all_metrics": metrics}))
    for name, mv in out.items():
        print(f"{name:42s} {mv['value']:.6g} {mv['unit']}")
    print(f"{'failed_frac':42s} {failed / max(1, attempted):.6g} ratio")
    if flagged:
        print(f"host: FLAGGED slow window (probe {p0:.0f} -> {p1:.0f} M ops/s)")
    print(f"correct: {'yes' if correct else 'NO'} ({attempted - failed}/{attempted} operations ok)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
