#!/usr/bin/env python3
"""One-command runner of graft's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
benchmark's Scala code from source with one sbt invocation (compile + export
of the runtime classpath); every run then starts its workload in a
fresh JVM with plain `java -cp`, so set-up time measures the program
and not sbt. Inputs are generated from the seed (gen_data.py). Outputs
are checked against independent DuckDB/numpy oracles outside every
timed region (verify.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).

Everything the run writes lands under <checkout>/.bench_build/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("vendor_dag", "table_commits")
JVM_LIMIT_S = 170

sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import layers  # noqa: E402
import verify  # noqa: E402


def add_opens():
    """The --add-opens flags graft's own build gives Spark on JDK 17
    (`jdk17AddOpens` in the root build.sbt), so both start Spark alike."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", fh.read(), re.S)
    if not m:
        raise SystemExit("no jdk17AddOpens list in build.sbt")
    return [x for p in re.findall(r'"([^"]+)"', m.group(1))
            for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft and the benchmark (sbt, once per source tree)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850)
    lines = [l for l in p.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"build took {time.time() - t0:.0f} s")
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


PART = {"table_commits": "sf", "vendor_dag": "vendors"}
KEEP = 24  # input sets and run directories kept, most recent first


def prune(base):
    dirs = sorted((os.path.join(base, x) for x in os.listdir(base)), key=os.path.getmtime)
    for old in dirs[:-KEEP]:
        shutil.rmtree(old)


def inputs(workload, seed):
    """Generated inputs of `workload` for `seed`, cached per (part, seed,
    generator source)."""
    with open(gen_data.__file__, "rb") as fh:
        gen = hashlib.sha1(fh.read()).hexdigest()[:12]
    base = os.path.join(BUILD, "data")
    d = os.path.join(base, f"{PART[workload]}-{seed}-{gen}")
    if not os.path.exists(os.path.join(d, "done")):
        if os.path.exists(d):
            shutil.rmtree(d)
        gen_data.generate(seed, d, PART[workload])
        open(os.path.join(d, "done"), "w").close()
    os.utime(d)
    prune(base)
    return d


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return []


def steal_ticks():
    """CPU time the hypervisor gave to other guests (/proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def end_to_end(res):
    """Both in CPU seconds of the whole workload JVM (every thread)."""
    return {
        "setup_s": (res["setup_cpu_s"], "s"),
        "pass_cpu_s": (layers.median(layers.plain(res, res["pass_cpu_ms"])) / 1e3, "s"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft source tree at {ROOT} (build.sbt, src/main/scala/graft)")
        return 2

    cp = classpath()
    data = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    prune(os.path.dirname(work))

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": os.cpu_count(), "loadavg_before": loadavg()}
    steal0, t0 = steal_ticks(), time.time()
    cmd = (["java", "-Xmx3g", "-Xmn512m"] + add_opens() + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dgraft.vendor.root={os.path.join(data, 'datasets')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work,
        "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err)
        # a run must end within its time limit even if the JVM hangs
        killer = threading.Timer(JVM_LIMIT_S, p.kill)
        killer.start()
        _, status, usage = os.wait4(p.pid, 0)
        killer.cancel()
    rc = os.waitstatus_to_exitcode(status)
    record["loadavg_after"] = loadavg()
    record["steal_share"] = (steal_ticks() - steal0) / (os.sysconf("SC_CLK_TCK") * os.cpu_count()
                                                        * max(1e-9, time.time() - t0))
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"workload JVM exited with {rc}")
        return 1
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    record.update(java_version=res["java_version"], spark_version=res["spark_version"],
                  jvm_cpus=res["cpus"], setup_wall_s=res["setup_wall_s"],
                  passes=len(res["pass_ms"]), recorded_passes=sum(res["recorded"]))

    failures = verify.check(a.workload, res, data, work)
    for f in failures:
        log(f"check failed: {f}")
    attempted = len(res["ops"])
    failed = min(attempted, len(failures))
    if a.trace:
        metrics = layers.per_layer(a.workload, res, work)
    else:
        metrics = end_to_end(res)
    record["workload_metrics"] = layers.workload_figures(a.workload, res, failed / attempted)
    record["workload_metrics"]["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    # samples behind each end-to-end figure of this run
    record["samples"] = {"setup_s": 1, "pass_cpu_s": len(layers.plain(res, res["pass_cpu_ms"]))}
    with open(os.path.join(work, "run.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    log(json.dumps(record))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
