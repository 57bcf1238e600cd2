"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ehr_pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the library and
the benchmark (perfbench/build.py); later runs reuse the classes. The
JVM (perfbench/scala/Main.scala) generates the seeded inputs, sets up,
times and checks the workload inside a fresh directory under
.bench_build/runs/, which is deleted on exit; this script adds the DuckDB
replays and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). A traced run also keeps its spans and the
per-phase table under .bench_build/trace/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("ehr_pipeline", "index_lifecycle")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def heap_gb():
    """4 GiB, or a third of the machine's memory if that is smaller."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        return max(1, min(4, kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_steal_s():
    """Time the hypervisor gave this machine's CPUs to others, summed."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def run_jvm(classes, args, run_dir, trace_dir, log_path):
    jars = build.spark_jars()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_gb()}g", "-Xss4m",
            "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--dir", str(run_dir),
              "--out", str(run_dir / "result.json")])
    if trace_dir:
        cmd += ["--trace-dir", str(trace_dir)]
    (run_dir / "tmp").mkdir(parents=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode


def same_digest(bench, classes, args, digest):
    """The result at one seed must not change between runs of one build."""
    f = bench / "digests" / f"{classes.name}-{args.workload}-{args.seed}.txt"
    if f.is_file():
        seen = f.read_text().strip()
        return [] if seen == digest else [
            f"result digest {digest} differs from an earlier run at this "
            f"seed ({seen})"]
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_text(digest + "\n")
    return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    bench = root / ".bench_build"
    stamp = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    run_dir = bench / "runs" / stamp
    trace_dir = bench / "trace" / stamp if args.trace else None
    log_path = bench / "logs" / f"{stamp}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    load0 = loadavg()
    steal0 = cpu_steal_s()
    t0 = time.time()
    try:
        try:
            code = run_jvm(classes, args, run_dir, trace_dir, log_path)
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM killed after {JVM_TIMEOUT_S} s; log: "
                  f"{log_path}", file=sys.stderr)
            return 1
        result_file = run_dir / "result.json"
        if not result_file.is_file():
            print(f"perfbench: JVM exited {code} without a result; log: "
                  f"{log_path}", file=sys.stderr)
            return 1
        res = json.loads(result_file.read_text())
        failures = list(res.get("failures", []))
        if not failures and res.get("check_inputs"):
            failures += checks.run(args.workload, res["check_inputs"])
        if res.get("digest"):
            failures += same_digest(bench, classes, args, res["digest"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = dict(res.get("per_layer" if args.trace else "metrics") or {})
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    info = dict(res.get("info", {}))
    info.update(loadavg_run_start=load0, loadavg_run_end=loadavg(),
                cpu_steal_s=round(cpu_steal_s() - steal0, 2),
                run_s=round(time.time() - t0, 3), failures=failures)
    print(json.dumps({"info": info}))
    out = {
        "correct": not failures and res["failed"] == 0,
        "attempted": max(1, int(res["attempted"])),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] not in missing},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
