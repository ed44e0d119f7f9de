#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload api_reads --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the engine plus the benchmark
harness from source (sbt, into .bench_build/), generates the seeded inputs,
runs the workload in one JVM, checks the outputs, and prints one JSON
line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The full record (every sample, the checks, the load stamps)
goes to .bench_build/reports/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
RUN_LIMIT_S = 170  # a run that does not build must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout builds

HEAP = "4g"
# A heap floor: without it the System.gc() of a heap sample lets G1 shrink
# the heap, which then regrows during the measured part, slowing its start
HEAP_MIN = "2g"

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("ERROR: " + msg)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine sources and the harness unless the classes on
    disk were built from exactly the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to perfbench/")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    # offline, no sbt server, and temp files inside the checkout
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false",
                                "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                                "-Djna.tmpdir=" + tmp]).strip()
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0:
        fail("build failed; see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))


def cpu_ticks():
    """pid -> (cmdline, utime + stime ticks) for every process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % pid) as f:
                st = f.read().rsplit(")", 1)[1].split()
            with open("/proc/%s/cmdline" % pid, "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            out[int(pid)] = (cmd.strip()[:120], int(st[11]) + int(st[12]), int(st[1]))
        except (OSError, IndexError, ValueError):
            pass
    return out


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_totals():
    """(steal ticks, all ticks) summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class LoadStamps:
    """Pre-run load average, its peak during the run, and the CPU time of
    processes outside this benchmark's process tree (co-tenants)."""

    def __init__(self):
        self.pre = loadavg()
        self.peak = self.pre
        self.before = cpu_ticks()
        self.cpu0 = cpu_totals()
        self.t0 = time.time()
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self.sample, daemon=True)
        self.thread.start()

    def sample(self):
        while not self.stop.wait(1.0):
            self.peak = max(self.peak, loadavg())

    def finish(self, ours):
        self.stop.set()
        self.thread.join()
        after = cpu_ticks()
        steal, total = (b - a for a, b in zip(self.cpu0, cpu_totals()))
        hz = os.sysconf("SC_CLK_TCK")
        wall = max(time.time() - self.t0, 1e-9)
        tenants = []
        for pid, (cmd, ticks, _) in after.items():
            if pid in ours:
                continue
            # a process started during the run counts from zero
            cpu = (ticks - self.before.get(pid, ("", 0))[1]) / hz
            if cpu > 0.05 * wall:
                tenants.append({"pid": pid, "cmd": cmd, "cpu_s": round(cpu, 2)})
        tenant_cores = sum(t["cpu_s"] for t in tenants) / wall
        return {"load_pre": self.pre, "load_peak": self.peak,
                "cotenant_cores": round(tenant_cores, 3),
                "cotenants": tenants[:10],
                # CPU time the hypervisor gave to other guests
                "steal_share": round(steal / max(total, 1), 4),
                # the load average still carries the previous run's own
                # work, so only CPU time taken by other processes or other
                # guests marks a busy box
                "busy": tenant_cores > 0.5 or steal / max(total, 1) > 0.05}


def descendants(root_pid):
    procs = cpu_ticks()
    kids = {root_pid, os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (_, _, ppid) in procs.items():
            if ppid in kids and pid not in kids:
                kids.add(pid)
                grew = True
    return kids


def main():
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(bench_json))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    t_start = time.time()  # a run that builds may take longer

    work = os.path.join(BUILD, "work", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    gen = [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
           a.workload, "--seed", str(a.seed), "--out", data]
    t_gen = time.time()
    subprocess.run(gen, check=True)
    t_gen = time.time() - t_gen

    out = os.path.join(work, "result.json")
    spark_jars = os.path.join(spark_home(), "jars")
    cp = os.pathsep.join([CLASSES] + sorted(
        os.path.join(spark_jars, j) for j in os.listdir(spark_jars)
        if j.endswith(".jar")))
    cmd = (["java", "-Xms" + HEAP_MIN, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work,
              "--expected", os.path.join(HERE, "expected.json"),
              "--out", out])
    stamps = LoadStamps()
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        ours = descendants(p.pid)
        try:
            rc = p.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    load = stamps.finish(ours)
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("workload JVM %s" % ("timed out" if rc is None else "exited %s" % rc))
    res = json.load(open(out))

    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in group if m["name"] not in res["metrics"]]
    if missing:
        fail("metrics not reported: %s" % missing)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in group}
    res["load"] = load
    res["wall_s"] = time.time() - t_start
    res["gen_s"] = t_gen
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, "%s-s%d-t%d.json" % (
            a.workload, a.seed, a.trace)), "w") as f:
        json.dump(res, f, indent=1)
    if load["busy"]:
        log("WARNING: busy machine (%.2f co-tenant cores, %.1f %% steal)"
            % (load["cotenant_cores"], 100 * load["steal_share"]))
    for msg in res["check_failures"]:
        log("check failed: " + msg)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
