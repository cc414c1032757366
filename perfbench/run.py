"""Repo benchmark: one workload, one seed, one closed-loop client.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: daily_increment, corpus_curate, lakehouse_cdc, stream_upsert
(perfbench/src/perfbench/*.scala). The program is built from source on the
first run (perfbench/build.py), then driven in one JVM with Spark in
local[nproc] mode. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of a run
whose warm units are traced. The metric names printed there are the ones
BENCHMARK.json registers (end_to_end or per_layer); any other metric the run
measured goes to the line before it, which also records the run's inputs and
host contention (load average, steal and other processes' CPU from
/proc/stat). Exits non-zero when a unit fails or an output check fails.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["daily_increment", "corpus_curate", "lakehouse_cdc", "stream_upsert"]
TIMEOUT_S = 170


def proc_stat():
    """(busy, steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq = v[:7]
    steal = v[7] if len(v) > 7 else 0
    return user + nice + system + irq + softirq, steal, sum(v[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    build.build()
    jars = build.spark_jars()
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cds = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if build.ARCHIVE.is_file() else []
    cmd = (["java"] + build.java_flags() + cds + [f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(jars), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work)])

    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    load0, stat0, t0 = loadavg(), proc_stat(), time.monotonic()
    log = open(work / "java.log", "w")
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=log, stderr=subprocess.STDOUT, env=build.java_env())

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = "timeout"
    log.close()
    wall = time.monotonic() - t0
    stat1, load1 = proc_stat(), loadavg()
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    result_file = work / "result.json"
    if code != 0 or not result_file.is_file():
        sys.stderr.write((work / "java.log").read_text()[-8000:])
        sys.exit(f"benchmark JVM exited with {code}")

    hz = os.sysconf("SC_CLK_TCK")
    busy, steal, total = (b - a_ for a_, b in zip(stat0, stat1))
    own_cpu = ru.ru_utime + ru.ru_stime - ru0.ru_utime - ru0.ru_stime
    ncpu = os.cpu_count() or 1
    info = json.loads((work / "info.json").read_text())
    info["host"] = {
        "loadavg_before": load0, "loadavg_after": load1, "wall_s": round(wall, 3),
        "steal_frac": round(steal / max(1, total), 4),
        "other_cpu_s": round(max(0.0, busy / hz - own_cpu), 3),
        "other_cpu_frac": round(max(0.0, busy / hz - own_cpu) / max(1e-9, wall * ncpu), 4),
        "nproc": ncpu,
    }
    result = json.loads(result_file.read_text())
    measured = result["metrics"]
    missing = [n for n in names if n not in measured]
    if missing:
        sys.exit(f"registered metrics not measured: {', '.join(missing)}")
    info["unregistered_metrics"] = {k: v for k, v in measured.items() if k not in names}
    result["metrics"] = {n: measured[n] for n in names}
    traces = build.BUILD / "traces"
    if (work / "spans.jsonl").is_file():
        traces.mkdir(exist_ok=True)
        shutil.move(str(work / "spans.jsonl"), traces / f"{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
