#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt compiles ../src/main/scala with the benchmark's own
sources), caches the jar classpath under perfbench/.build, and records
there one class-data-sharing archive per workload from a short untimed
run of it. Every reported run then starts one JVM directly and maps its
workload's archive instead of loading each class again. The JVM prints a
report line, then the result as the last line of stdout, which this
script passes through.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("oltp_jdbc", "bulk_warehouse", "llm_batch")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path and contents."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    # run.py too: its JVM flags shape the class-data archives
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        with open(f, "rb") as fh:
            data = fh.read()
        h.update(f"{os.path.relpath(f, ROOT)}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()


def jvm_opts(workload, record=False):
    """JVM flags of every run; `record` writes the workload's archive
    instead of mapping it."""
    tmp = os.path.join(HERE, ".work", "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs' queries left there
    os.makedirs(tmp)
    jsa = os.path.join(BUILD, f"{workload}.jsa")
    # A 2 GB heap with a fixed 384 MB young generation, committed but not
    # pre-touched: pages count in the peak RSS only once the program
    # allocates into them, and G1 sizes nothing from GC time, which
    # follows the machine's load rather than the program's.
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-XX:ArchiveClassesAtExit={jsa}" if record else f"-XX:SharedArchiveFile={jsa}"]
    for o in JDK_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return jvm


def record_archives(cp):
    """One short untimed run per workload, each writing the class-data
    archive that the workload's reported runs map."""
    for w in WORKLOADS:
        jvm = jvm_opts(w, record=True)
        log = os.path.join(HERE, ".work", f"{w}.archive.stderr")
        args = ["--workload", w, "--seed", "0", "--seconds", "1", "--trace", "0",
                "--bench-dir", HERE, "--archive-run", "1"]
        with open(log, "w") as err:
            try:
                p = subprocess.run(jvm + ["-cp", cp, "graft.perfbench.Main"] + args,
                                   cwd=ROOT, stdout=subprocess.DEVNULL, stderr=err,
                                   timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"archive run of {w} did not finish in {RUN_TIMEOUT_S} s (log: {log})", 3)
        if p.returncode != 0 or not os.path.exists(os.path.join(BUILD, f"{w}.jsa")):
            fail(f"archive run of {w} failed (exit {p.returncode}; log: {log})", 3)


def classpath():
    """Build and record the archives if any input changed; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala; "
             "run from the root of a full checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    for name in os.listdir(BUILD):  # an older build's stamp and archives
        os.remove(os.path.join(BUILD, name))
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = cps[-1]
    record_archives(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="llm_batch: rewrite perfbench/llm_fingerprints.tsv from this run")
    # one-off characterisation knobs (see perfbench/README.md); never set
    # by the registered runs
    ap.add_argument("--rate", type=float, help="CDC live phase: offered transactions/s")
    ap.add_argument("--cap", type=int, help="CDC: CDC_MAX_EVENTS_PER_TRIGGER")
    ap.add_argument("--spark-threads", type=int, help="Spark local[N] threads")
    a = ap.parse_args()

    cp = classpath()
    jvm = jvm_opts(a.workload)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", HERE]
    if a.record_fingerprints:
        args += ["--record-fingerprints", "1"]
    for knob in ("rate", "cap", "spark_threads"):
        if getattr(a, knob) is not None:
            args += ["--" + knob.replace("_", "-"), str(getattr(a, knob))]
    log = os.path.join(HERE, ".work", f"{a.workload}.stderr")
    with open(log, "w") as err:
        try:
            p = subprocess.run(jvm + ["-cp", cp, "graft.perfbench.Main"] + args, cwd=ROOT,
                               stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s (log: {log})", 4)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(p.stdout[-4000:])
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{a.workload} produced no result (exit {p.returncode}; log: {log})", 5)
    for ln in lines:
        print(ln)


if __name__ == "__main__":
    main()
