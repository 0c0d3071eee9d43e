#!/usr/bin/env python3
"""Engine benchmark driver.

    python3 perfbench/run.py --paced-files-per-s R \
        --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. The first call builds the
benchmark package (perfbench/build.sbt compiles the engine sources together
with the benchmark's own Scala code); later calls reuse the build while the
sources are unchanged. Each call starts one JVM with a heap fitted to the
host, runs one workload on local[4] with 8 shuffle/state partitions, checks
its outputs, and prints every metric by name and unit. The last line of
standard output is the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. The full record (host fingerprint, samples, failures)
goes to perfbench/out/, spans to perfbench/out/*.spans.jsonl.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "streaming",
                             "ClipStreamJob.scala")
WORKLOADS = ("drain_windows", "paced_windows", "join_updates", "dedup_ingest")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the benchmark package; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                             cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("build timed out after %d s (see %s)" % (BUILD_TIMEOUT_S, log))
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in out:
        fail("build failed (see %s)" % log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def meminfo_mb(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    return 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: on a shared VM the hypervisor's
    steal share during a run explains slow outliers."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def heap_mb():
    """A quarter of the host's memory, between 1 and 2 GiB."""
    return max(1024, min(2048, meminfo_mb("MemTotal") // 4))


def commit_id():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                  capture_output=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "tree:" + source_stamp()[:12]


def remove_stale_work():
    """Run directories of JVMs that were killed are never cleaned up by the
    JVM itself (work/<workload>-s<seed>-<pid>); drop those whose pid is gone."""
    work = os.path.join(HERE, "work")
    for name in os.listdir(work) if os.path.isdir(work) else []:
        pid = name.rsplit("-", 1)[-1]
        if name == "tmp" or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(cp, a, out_json, heap):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(HERE, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Xms%dm" % heap, "-Xmx%dm" % heap, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", HERE, "--out", out_json,
            "--launch-ms", str(int(time.time() * 1000)),
            "--paced-files-per-s", repr(a.paced_files_per_s),
            "--pacer", os.path.join(HERE, "pacer.py")]
    log = out_json[:-len(".json")] + ".log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "benchmark JVM timed out after %d s (log: %s)" % (JVM_TIMEOUT_S, log)
    if not os.path.exists(out_json):
        return None, "benchmark JVM exited %d without a result (log: %s)" % (p.returncode, log)
    with open(out_json) as f:
        return json.load(f), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--paced-files-per-s", type=float, required=True,
                    help="fixed open-loop rate of paced_windows, in files per second")
    a = ap.parse_args()
    if not os.path.exists(ENGINE_MARKER):
        fail("engine sources not found at %s; run from the root of a checkout"
             % os.path.relpath(ENGINE_MARKER, ROOT))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    remove_stale_work()
    os.makedirs(OUT, exist_ok=True)
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    out_json = os.path.join(OUT, tag + ".json")
    if os.path.exists(out_json):
        os.remove(out_json)
    heap = heap_mb()
    host = {"nproc": nproc(), "mem_total_mb": meminfo_mb("MemTotal"),
            "load_before": loadavg(), "jvm_heap_mb": heap, "master": MASTER,
            "shuffle_partitions": SHUFFLE_PARTITIONS, "commit": commit_id()}
    steal0, total0 = cpu_ticks()
    res, err = run_jvm(cp, a, out_json, heap)
    steal1, total1 = cpu_ticks()
    host["load_after"] = loadavg()
    host["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    if res is None:
        res = {"correct": False, "attempted": 1, "failed": 1, "failures": [err], "metrics": {}}
    res["host"] = host
    with open(out_json, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    print("host: nproc=%(nproc)d mem_total_mb=%(mem_total_mb)d jvm_heap_mb=%(jvm_heap_mb)d "
          "master=%(master)s shuffle_partitions=%(shuffle_partitions)d commit=%(commit)s"
          % host)
    print("load average before=%s after=%s, cpu steal during the run %.1f%%"
          % (host["load_before"], host["load_after"], 100 * host["cpu_steal_share"]))
    print("workload=%s seed=%d trace=%d attempted=%d failed=%d ops_failed_ratio=%s"
          % (a.workload, a.seed, a.trace, res["attempted"], res["failed"],
             res.get("ops_failed_ratio", "null")))
    samples = res.get("samples", {})
    got = res.get("metrics", {})
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        s = samples.get(m["name"])
        note = "  (n=%d)" % s["n"] if isinstance(s, dict) and "n" in s else ""
        shown = "FAILED" if v is None else "%.6g" % v
        print("  %-36s %14s %s%s" % (m["name"], shown, m["unit"], note))
    listed = {m["name"] for m in wanted}
    for name in sorted(set(got) - listed) if not a.trace else []:
        print("  %-36s %14s (not in BENCHMARK.json)" % (
            name, "FAILED" if got[name] is None else "%.6g" % got[name]))
    for reason in res.get("failures", []):
        print("FAILED: " + reason)
    complete = all(x["value"] is not None for x in metrics.values())
    print(json.dumps({"correct": bool(res["correct"]) and complete,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
