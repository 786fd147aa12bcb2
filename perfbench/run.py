#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (first run only; later runs
reuse the build while the sources are unchanged), runs the workload in one
JVM, matches the run's outputs against DuckDB, and prints one JSON object as
the last line of stdout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
BUILD = os.path.join(STATE, "build")
ORACLE_CACHE = os.path.join(STATE, "oracle-cache")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("serve", "pipeline", "pipeline_full", "ingest")
JVM_DEADLINE_S = 165      # the whole run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout builds

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, in a stable order."""
    files = []
    for base in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    h = hashlib.sha256(b"jar+cds")  # the build method: a jar of the classes
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # no JVM perf-data files or temp files outside the checkout
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sources changed or first run)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    # the compiled classes go into a jar: a class-data-sharing archive
    # (see run_jvm) can only hold classes loaded from jars
    entries = []
    for e in lines[-1].strip().split(os.pathsep):
        if os.path.isdir(e):
            jar = os.path.join(BUILD, f"classes{len(entries)}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in sorted(os.walk(e)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, e))
            e = jar
        entries.append(e)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(os.pathsep.join(entries))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return os.pathsep.join(entries)


def env_sample():
    """(loadavg 1m, loadavg 5m, steal ticks, total ticks): the method of the
    engine's Bench.envSample. Zeros where /proc is missing."""
    try:
        la = open("/proc/loadavg").read().split()
        cpu = next(l for l in open("/proc/stat") if l.startswith("cpu "))
        ticks = [int(x) for x in cpu.split()[1:]]
        return float(la[0]), float(la[1]), ticks[7] if len(ticks) > 7 else 0, sum(ticks[:8])
    except (OSError, StopIteration, ValueError):
        return 0.0, 0.0, 0, 0


def run_jvm(classpath, a, root, deadline):
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(root, d))
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/local",
           f"-Dspark.sql.warehouse.dir={root}/warehouse",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Class-data sharing: the first run after a build archives the classes it
    # loaded as it exits, and later runs map them instead of loading and
    # verifying them again, which halves the JVM's cold session start.
    dump = CDS_ARCHIVE + f".tmp{os.getpid()}"
    dumping = False
    if os.path.exists(CDS_ARCHIVE):
        cmd += [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    elif all(os.path.isfile(e) for e in classpath.split(os.pathsep)):
        cmd += [f"-XX:ArchiveClassesAtExit={dump}"]
        dumping = True
    cmd += ["-Xlog:cds*=error", "-Xlog:class+path=error"]
    cmd += ["-cp", classpath, "perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), root]
    # the JVM's stdout goes to stderr: the last stdout line is the result
    p = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    t0 = time.time()
    try:
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("the workload ran past its deadline")
    finally:
        if p.poll() is None:
            p.kill()
        p.wait()
        if os.path.exists(dump):
            if p.returncode == 0:
                os.replace(dump, CDS_ARCHIVE)
            else:
                os.remove(dump)
    log(f"{time.time() - t0:.1f} s: JVM exited")
    result = os.path.join(root, "result.json")
    if rc != 0 and dumping and os.path.exists(result):
        log(f"archiving the loaded classes failed (exit {rc}); later runs load them from the jars")
    elif rc != 0:
        raise SystemExit(f"the workload JVM exited with {rc}")
    with open(result) as fh:
        return json.load(fh)


def unit_of(name):
    """Unit of a metric outside BENCHMARK.json, from its name's suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_amp", "_frac")) else "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise SystemExit("no engine sources under src/main/scala/graft: nothing to benchmark")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build()
    t_run = time.time()
    os.makedirs(STATE, exist_ok=True)
    root = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    env0 = env_sample()
    try:
        res = run_jvm(classpath, a, root, t_run + JVM_DEADLINE_S)
        env1 = env_sample()
        mismatched = oracle.check_all(res["checks"], res["tables"], ORACLE_CACHE)
        log(f"{time.time() - t_run:.1f} s: {len(res['checks'])} checks done")
        leaked = sorted(os.path.basename(p) for p in glob.glob(f"{root}/tmp/graft_*"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # temp hygiene: the run root is gone and no engine temp dir escaped it
    left = glob.glob(f"{REPO}/graft_*") + glob.glob(f"{STATE}/**/graft_*", recursive=True)
    if os.path.exists(root) or left:
        log(f"temp directories left behind: {left or root}")

    steal = (100.0 * (env1[2] - env0[2]) / (env1[3] - env0[3])) if env1[3] > env0[3] else 0.0
    stamp = {"nproc": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count(),
             "load_before": [env0[0], env0[1]], "load_after": [env1[0], env1[1]],
             "steal_pct": steal, "engine_tmp_dirs": len(leaked),
             "wall_s": time.time() - t_start}

    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        # a workload BENCHMARK.json does not list: report all it measured
        for k, v in sorted(res["metrics"].items()):
            metrics.setdefault(k, {"value": v, "unit": unit_of(k)})
    failed = res["failed"] + mismatched
    attempted = max(1, res["attempted"] + len(res["checks"]))
    correct = failed == 0 and not missing and not left and not os.path.exists(root)
    if missing:
        log(f"metrics not reported: {missing}")
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "env": stamp, "metrics": metrics, "attempted": attempted, "failed": failed}
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("env " + json.dumps(stamp))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
