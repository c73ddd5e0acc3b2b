#!/usr/bin/env python3
"""End-to-end ETL benchmark runner.

Run from the repository root:

    python3 etlbench/run.py --workload ingest|search|curate --seed N --seconds S --trace 0|1

Builds the benchmark (the library's main sources plus etlbench/src) with
sbt when the sources changed since the last build, runs one benchmark JVM,
records the host state around it, and prints the JVM's result object as
the last line of stdout. The full record of the run goes to
.bench_build/records/<workload>-s<seed>-t<trace>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "etlbench.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with one run, inside the 900 s a first (building) run may take
HEAP = "2g"

# java.base packages Spark 4 needs opened on JDK 17 (as the library's build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"[etlbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark not found: set SPARK_HOME")
    return home


def source_files():
    lib = ROOT / "src" / "main" / "scala"
    if not (lib / "graft").is_dir():
        die(f"library sources not found under {lib}; run from the repository root")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src" / "main").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def build_if_stale(home):
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    print("[etlbench] building", file=sys.stderr)
    env = dict(os.environ, SPARK_HOME=home)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die("build failed")
    STAMP.write_text(digest)


def cpu_times():
    """Machine-wide jiffies from /proc/stat: (total, idle + iowait, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7] if len(v) > 7 else 0


def cgroup_throttling():
    for p in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat"):
        try:
            with open(p) as f:
                kv = dict(line.split() for line in f if line.strip())
            return {k: int(v) for k, v in kv.items() if k in ("nr_periods", "nr_throttled", "throttled_usec", "throttled_time")}
        except OSError:
            continue
    return {}


def host_before():
    cpu_model = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu_model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": cpu_model,
        "loadavg_start": os.getloadavg(),
        "_cpu": cpu_times(),
        "_cg": cgroup_throttling(),
    }


def host_after(h):
    t0, i0, s0 = h.pop("_cpu")
    t1, i1, s1 = cpu_times()
    dt = max(1, t1 - t0)
    cg0, cg1 = h.pop("_cg"), cgroup_throttling()
    h.update({
        "loadavg_end": os.getloadavg(),
        "machine_busy_frac": round(1 - (i1 - i0) / dt, 4),
        "steal_frac": round((s1 - s0) / dt, 4),
        "cgroup_throttling": {k: cg1[k] - cg0.get(k, 0) for k in cg1},
    })
    return h


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "search", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    home = spark_home()
    build_if_stale(home)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    record = OUT / "records" / f"{tag}.json"
    log = OUT / "logs" / f"{tag}.log"
    work = OUT / "work" / tag
    for d in (record.parent, log.parent):
        d.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{home}/jars/*", "graft.bench.EtlBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--record", str(record)]
    host = host_before()
    t0 = time.time()
    # a terminated runner must not leave the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"benchmark exited with {p.returncode}; log: {log}")
    result = json.loads(lines[-1])
    rec = json.loads(record.read_text())
    rec["host"] = host_after(host)
    rec["process_wall_s"] = round(time.time() - t0, 3)
    record.write_text(json.dumps(rec, indent=2) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
