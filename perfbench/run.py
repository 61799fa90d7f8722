#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|catalog --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships in the
Spark jars, caching the classes under .bench_build/, runs one workload in
a local[4] JVM, checks the outputs, prints a report and, as the last line
of stdout, one JSON object: correct, attempted, failed and the metrics
(the end-to-end ones untraced, the per-layer ones with --trace 1).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ENGINE_SRC = "src/main/scala"
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170  # JVM plus output checks, after the build
CORES = 4
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("no Spark found: set SPARK_HOME")
    d = os.path.join(home, "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        fail(f"no Spark jars in {d}")
    return os.path.join(d, "*")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + (["-cp", classpath] if classpath else []) + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        fail(f"compilation failed ({len(files)} files into {out})")


def jar(classes_dir, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(glob.glob(os.path.join(classes_dir, "**", "*.class"), recursive=True)):
            z.write(f, os.path.relpath(f, classes_dir))
    shutil.rmtree(classes_dir)


def build(jars):
    """Compile engine + harness once per source content into
    engine.jar and harness.jar; returns the directory holding both."""
    engine, harness = sources(ENGINE_SRC), sources(os.path.join(HERE, "harness"))
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}; run from the repository root")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    final = os.path.join(BUILD, "classes", h.hexdigest()[:20])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(final):
            return final
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(f"{tmp}/engine")
        os.makedirs(f"{tmp}/harness")
        t0 = time.time()
        scalac(jars, None, f"{tmp}/engine", engine)
        scalac(jars, f"{tmp}/engine", f"{tmp}/harness", harness)
        jar(f"{tmp}/engine", f"{tmp}/engine.jar")
        jar(f"{tmp}/harness", f"{tmp}/harness.jar")
        os.rename(tmp, final)
        print(f"perfbench: built engine + harness in {time.time() - t0:.0f}s", file=sys.stderr)
    return final


def run_jvm(jars, classes, a, work, out, timeout):
    """Run the harness JVM. Class loading is a large part of a cold
    Spark JVM's start, so the first run of a workload records the classes
    it loaded in an AppCDS archive next to the build, and later runs map
    that archive instead of loading the classes again."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               MALLOC_MMAP_THRESHOLD_="268435456", MALLOC_TRIM_THRESHOLD_="268435456",
               MALLOC_ARENA_MAX="8")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = os.path.join(classes, f"{a.workload}.jsa")
    cds_tmp = f"{cds}.{os.getpid()}"
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds_tmp}")
    cp = f"{classes}/engine.jar{os.pathsep}{classes}/harness.jar"
    cmd = (["java", share, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-XX:ActiveProcessorCount={CORES}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{cp}{os.pathsep}{jars}", "graft.perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), work, out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {timeout:.0f}s (log: {log_path})")
    if os.path.exists(cds_tmp):
        os.replace(cds_tmp, cds)
    if not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM exited with {r.returncode}")


def oracle_check(rec, timeout):
    """Compare the written catalog results with their DuckDB oracles
    (tools/check_oracles.py). Returns (attempted, failure messages); a
    query without a verdict in time counts as failed."""
    tool = os.path.join("tools", "check_oracles.py")
    if not os.path.exists(tool):
        fail(f"{tool} not found; run from the repository root")
    try:
        stdout = subprocess.run([sys.executable, tool, rec["data_dir"], rec["out_dir"]],
                                capture_output=True, text=True, timeout=timeout).stdout
    except subprocess.TimeoutExpired as e:
        stdout = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
    status = {}
    for line in stdout.splitlines():
        m = re.match(r"^(q_\w+): (.*)$", line)
        if m:
            status[m.group(1)] = m.group(2)
    with open(os.path.join(rec["out_dir"], "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    bad = [f"oracle {n}: {status.get(n, 'no oracle verdict')}"
           for n in names if not status.get(n, "").startswith("OK")]
    return len(names), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        t0 = time.time()
        run_jvm(jars, classes, a, work, out, RUN_TIMEOUT_S)
        t1 = time.time()
        with open(out) as fh:
            rec = json.load(fh)
        attempted, failures = rec["attempted"], list(rec["failures"])
        if a.workload == "catalog":
            n, bad = oracle_check(rec, max(1.0, RUN_TIMEOUT_S - (t1 - t0)))
            attempted += n
            failures += bad
        t2 = time.time()
        e2e, counts, report = metrics.end_to_end(a.workload, rec)
        layer = metrics.per_layer(a.workload, rec) if a.trace else None
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"(jvm {t1 - t0:.1f}s, oracle check {t2 - t1:.1f}s)")
    print("#   phases ended at (s into the JVM run): " +
          ", ".join(f"{k} {v:.1f}" for k, v in sorted(rec["phase_end_s"].items(), key=lambda kv: kv[1])))
    for name, (value, unit, n) in report.items():
        print(f"#   {name} = {value} {unit} (n={n})")
    for name, value in e2e.items():
        print(f"#   {name} = {value} {metrics.END_TO_END[name]} (n={counts[name]})")
    print(f"#   fail_ratio = {metrics.fail_ratio(attempted, len(failures))} "
          f"({len(failures)}/{attempted})")
    for f in failures:
        print(f"#   FAILED: {f}")
    if a.workload == "serve":
        for o in rec["ops"]:
            print(f"#   query tokens={o['tokens']} dfn={o['dfn']:.3f} path={o['path']} "
                  f"rounds={o['rounds']} ms={o['ms']:.1f} q='{o['q']}'")
    chosen = layer if a.trace else e2e
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(json.dumps(dict(metrics.outcome(attempted, failures),
        metrics={k: {"value": v, "unit": units[k]} for k, v in chosen.items()})))


if __name__ == "__main__":
    main()
