#!/usr/bin/env python3
"""The graft benchmark: one run of one workload in a fresh JVM.

Usage, from the repository root:

    python3 perfbench/run.py --workload reco --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark program from source on first use
(sbt, offline, into `perfbench/target`, plus a class-data archive of the
JVM's start-up classes), generates the workload's inputs
from the seed (`gen.py`), runs `perfbench.Main` at `local[<cores>]`
with one load-generating caller per core, checks the outputs, keeps the
full run record under `.bench_results/` and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics of a separately traced run. Workloads, metrics and the
layer-to-metric mapping are described in `perfbench/README.md`.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
RUNS = os.path.join(ROOT, ".bench_run")
RESULTS = os.path.join(ROOT, ".bench_results")
DEADLINE_S = 170

# Inputs per workload. Each run stays under a minute on 4 cores, so 48
# runs and two builds fit in under an hour.
WORKLOADS = {
    "reco": dict(
        sf=0.001, mix_len=20000, check_users=1, held_out=10,
        why="the reference app end to end: cold graph build, closed-loop "
            "serving lookups and live per-user recommendations, then the "
            "held-out users' ratings folded into both serving payloads"),
    "kernel_sweep": dict(
        sf=0.001, mix_len=0, check_users=0, held_out=0,
        why="small-data kernels run cold, so per-job planning and scheduling "
            "dominate; the only workload reaching gds, cypher, text, dedup, ann"),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library + benchmark with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not jars:
        fail("no unmanagedBase in the root build.sbt")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars.group(1))
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "target" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    record_class_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def record_class_archive(cp):
    """Part of the build: runs the set-up every run shares (session start,
    reading tables) once, with the JVM recording the classes it loads into
    a class-data archive. Each run then maps those classes from the
    archive instead of loading them from the jars one by one; the JVM
    ignores an archive that does not match its classpath."""
    import gen
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_dir = os.path.join(RUNS, f"archive-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(data)
    try:
        gen.generate(data, 0, 0.001, 0, 0, 0)
        run_jvm(cp, "setup_only", data, run_dir, 0, 0, 1, os.path.join(run_dir, "record.json"),
                time.time() + 600, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("no class-data archive was written")


def run_jvm(cp, workload, data, run_dir, trace, seconds, cores, out, deadline,
            jvm_flags=()):
    log = os.path.join(run_dir, "jvm.log")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap under the throughput collector: no heap resizing
    # and no concurrent GC threads to vary run time and peak RSS
    cmd = (["java", "-XX:+UseParallelGC", "-Xms1536m", "-Xmx1536m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           list(jvm_flags) +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", workload, data, run_dir, str(trace),
            str(seconds), str(cores), out])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"benchmark program failed ({rc})")
    with open(out) as f:
        return json.load(f)


def oracle_checks(data, outputs):
    """Each kernel's rows against its DuckDB oracle (SparkEntry.oracleSql),
    compared by the project's own comparator, scripts/check_oracle.py."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracle
    res = os.path.join(outputs, "oracle.json")
    with contextlib.redirect_stdout(sys.stderr):
        check_oracle.main(data, outputs, res)
    with open(res) as f:
        results = json.load(f)
    return [{"name": f"{e} == DuckDB oracle", "ok": r["hash_match"],
             "detail": f"{r['spark_rows']} vs {r['oracle_rows']} rows; {r['err']}"}
            for e, r in sorted(results.items())]


def select_metrics(rec, workload, trace):
    """The metrics BENCHMARK.json lists, in its order: the end-to-end ones,
    or with `trace` the per-layer ones. A per-layer metric of another
    workload's layers reads 0 here; every other listed metric must have
    been measured."""
    key = "per_layer" if trace else "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)[key]
    out = {}
    for m in listed:
        name = m["name"]
        if name in rec[key]:
            out[name] = rec[key][name]
        elif trace and not name.startswith(workload + "."):
            out[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"{workload} did not report {name}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}")
    sys.path.insert(0, HERE)
    cp = build()
    deadline = max(deadline, time.time() + 150)  # a first-run build is not run time

    cfg = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(data)
    try:
        import gen
        g0 = time.time()
        inputs = gen.generate(data, a.seed, cfg["sf"], cfg["mix_len"],
                              cfg["check_users"], cfg["held_out"])
        inputs["gen_s"] = time.time() - g0
        out = os.path.join(run_dir, "record.json")
        rec = run_jvm(cp, a.workload, data, run_dir, a.trace, a.seconds, cores,
                      out, deadline, [f"-XX:SharedArchiveFile={ARCHIVE}"])
        checks = list(rec["checks"])
        if a.workload == "kernel_sweep":
            checks += oracle_checks(data, os.path.join(run_dir, "outputs"))
        correct = all(c["ok"] for c in checks) and rec["failed"] == 0
        metrics = select_metrics(rec, a.workload, a.trace)
        line = {"correct": correct, "attempted": rec["attempted"],
                "failed": rec["failed"], "metrics": metrics}
        os.makedirs(RESULTS, exist_ok=True)
        rec.update(checks=checks, correct=correct, seed=a.seed, seconds=a.seconds,
                   why=cfg["why"], inputs=inputs, result=line)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        name = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
        with open(os.path.join(RESULTS, name + ".json"), "w") as f:
            json.dump(rec, f, indent=1)
        spans = out[:-len(".json")] + ".spans.json"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(RESULTS, name + ".spans.json"))
        for c in checks:
            if not c["ok"]:
                print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        print(json.dumps(line))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
