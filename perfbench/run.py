#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. The first run compiles the engine
sources together with the load generator (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. The first run of each workload also records a class-data
sharing archive of the classes it loaded, which later runs map instead
of loading Spark's classes one by one (JVM start-up only; what is
measured runs the same code). The benchmark JVM writes its result object to
a file, and this script prints it as the last line of stdout, so
build-tool or JVM output can never displace it. Exits non-zero, without a
result, when the checkout has no engine sources, the build fails or the
run fails.

    python3 perfbench/run.py --selftest    # the benchmark's own tests
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("search_hot", "search_spill")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def sources_stamp():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                   glob.glob("perfbench/src/main/**/*", recursive=True) +
                   ["perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/run.py"])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def run_sbt(commands, timeout):
    return subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
        + commands, cwd="perfbench", env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=timeout)


def classpath(stamp):
    """Build once per source state; return the runtime classpath (jars
    only, which class-data sharing requires)."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, f"classpath-{stamp}.txt")
    if not os.path.isfile(cp_file):
        print("[perfbench] building (first run in this checkout)", file=sys.stderr)
        try:
            r = run_sbt(["export Runtime/fullClasspathAsJars"], BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out", 1)
        lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
        cps = [l for l in lines if os.pathsep in l and ".jar" in l and " " not in l]
        if r.returncode != 0 or not cps:
            errors = [l for l in lines if l.startswith("[error]")]
            sys.stderr.write("\n".join(errors[:40]) + "\n" if errors else r.stdout[-4000:])
            die("build failed", 1)
        with open(cp_file, "w") as fh:
            fh.write(cps[-1])
    with open(cp_file) as fh:
        return fh.read().strip()


def run(args):
    stamp = sources_stamp()
    cp = classpath(stamp)
    root = os.path.abspath(os.path.join(
        BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    out = os.path.join(root, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds = os.path.abspath(os.path.join(BUILD_DIR, f"cds-{stamp}-{args.workload}.jsa"))
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={root}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Xlog:disable", "-Xlog:all=error:stderr",
           f"-XX:SharedArchiveFile={cds}" if os.path.isfile(cds)
           else f"-XX:ArchiveClassesAtExit={cds}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--out", out]
    if args.record:
        cmd.append("--record")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run stopped", 1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run timed out", 1)
    spans = glob.glob(os.path.join(root, "spans-*.jsonl"))
    if spans:
        os.makedirs(os.path.join(BUILD_DIR, "spans"), exist_ok=True)
        for s in spans:
            shutil.move(s, os.path.join(BUILD_DIR, "spans", os.path.basename(s)))
    result = None
    if code == 0 and os.path.isfile(out):
        with open(out) as fh:
            result = json.loads(fh.read())
    shutil.rmtree(root, ignore_errors=True)
    if args.record:
        return
    if result is None:
        die(f"run failed (exit {code})", 1)
    print(json.dumps(result))


def selftest():
    try:
        r = run_sbt(["test"], BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("self-test timed out", 1)
    sys.stderr.write(r.stdout)
    sys.exit(r.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the batch query list's output digests at this commit")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        die("run from the root of a checkout holding the engine sources (src/main/scala)")
    if args.selftest:
        selftest()
    if not args.workload:
        ap.error("--workload is required")
    t0 = time.time()
    run(args)
    print(f"[perfbench] done in {time.time() - t0:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
