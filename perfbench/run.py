#!/usr/bin/env python3
"""Product-shaped benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the engine and the benchmark's own
Scala sources with the Scala compiler shipped among the Spark jars (into
.bench_build/perfbench), writes the workload's inputs from --seed, runs one
JVM, checks the outputs, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads, metrics and the layer map are described in README.md next to
this file.
"""
import argparse
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

WORKLOADS = ("live_dashboard", "curation_batch")
DEADLINE_S = 160         # inputs + JVM; a run without a build ends inside 180 s
BUILD_DEADLINE_S = 800    # the first run in a checkout also builds
# A fixed, pre-touched heap: peak RSS then tracks memory outside the heap
# (metaspace, code cache, threads, direct buffers) and spreads about 1%
# across runs; with a growable heap it follows the collector's sizing and
# moved by a third between two runs of the same workload.
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def spark_jars(root):
    """The Spark jar dir the build uses: $SPARK_HOME/jars, else the
    `unmanagedBase` named in build.sbt."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            sbt = open(os.path.join(root, "build.sbt")).read()
        except OSError:
            fail("no build.sbt: run from the repository root")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no jars in {d}")
    return jars


def build(root, out):
    """Compile src/main/scala plus perfbench/src into out/classes, unless a
    stamp over every source and jar name says it is current."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no engine sources under src/main/scala")
    sources += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("the Spark jars hold no Scala compiler")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars), "@" + argfile]
    print("perfbench: building engine + benchmark", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


# ---- validity guards --------------------------------------------------------

def foreign_jvms():
    """java/sbt processes that are not this run's (contention), as
    "pid: command" strings."""
    mine = {os.getpid()}
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if os.path.basename(argv[0].decode(errors="replace")) in ("java", "sbt"):
            out.append(f"{d}: " + b" ".join(argv).decode(errors="replace")[:200])
    return sorted(out)


# ---- run --------------------------------------------------------------------

def log_copy(run_dir, name):
    """Keep a failed run's JVM log beside the reports; the run dir goes."""
    dst = os.path.join(os.path.dirname(os.path.dirname(run_dir)), "reports", name)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copy(os.path.join(run_dir, "jvm.log"), dst)
    return dst


def prepare(workload, seed, seconds, run_dir):
    import gen
    if workload == "live_dashboard":
        gen.live(seed, run_dir, seconds)
    else:
        gen.curation(os.path.join(run_dir, "data"))


def run_jvm(classes, jars, workload, run_dir, seed, seconds, trace, deadline):
    os.makedirs(os.path.join(run_dir, "scratch"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the run dir.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes] + jars), "perfbench.Main",
            workload, run_dir, str(seed), str(seconds), str(trace)]
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                         start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    # The JVM runs in its own process group; a terminated run takes it along.
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop()
    finally:
        log.close()
    if p.returncode != 0:
        kept = log_copy(run_dir, f"{workload}-{seed}-trace{trace}.jvm.log")
        fail(f"{workload}: JVM exited {p.returncode} (log: {kept})")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0:
        fail("--seed must be >= 0")

    root = os.getcwd()
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classes, jars = build(root, out)
    deadline = time.time() + DEADLINE_S

    foreign_before = foreign_jvms()
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = [time.time()]
        prepare(a.workload, a.seed, a.seconds, run_dir)
        t.append(time.time())
        raw = run_jvm(classes, jars, a.workload, run_dir, a.seed, a.seconds,
                      a.trace, deadline)
        t.append(time.time())
        raw["foreign_jvms"] = sorted(set(foreign_before) | set(foreign_jvms()))
        report = metrics.evaluate(raw, run_dir)
        t.append(time.time())
        report["wall_s"] = {"inputs": t[1] - t[0], "jvm": t[2] - t[1], "evaluate": t[3] - t[2]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(os.path.join(out, "reports"), exist_ok=True)
    rpath = os.path.join(out, "reports", f"{a.workload}-{a.seed}-trace{a.trace}.json")
    with open(rpath, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for p in report["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    if report["invalid"]:
        fail("run marked invalid: " + "; ".join(report["invalid"]) + f" (report: {rpath})", 3)
    metric_set = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metric_set.items())},
    }))
    if not report["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
