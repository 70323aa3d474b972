#!/usr/bin/env python3
"""Sinker benchmark: one command for the ingest_bulk, stream_open and
query_mix workloads (see README.md in this directory).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine's main
sources together with the harness in this directory (sbt, offline); later
runs reuse the build while the sources are unchanged. Every file the run
writes stays inside this directory (build output under target/, scratch
under .work/). The last line of standard output is the result object; the
exit code is 0 only when every output check passed.

Extra flags, not used by measurement runs:
    --tiny            shrink every input (the self-test uses it)
    --fault <name>    plant a defect the output checks must catch
    --record-hashes   rewrite query_hashes.json from this run's results
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.sources.sha1")
WORKLOADS = ("ingest_bulk", "stream_open", "query_mix")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_dirs():
    return [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "src", "main", "resources"),
            os.path.join(HERE, "src")]


def fingerprint():
    h = hashlib.sha1(open(os.path.join(HERE, "build.sbt"), "rb").read())
    for d in source_dirs():
        for base, _, names in sorted(os.walk(d)):
            for n in sorted(names):
                p = os.path.join(base, n)
                h.update(os.path.relpath(p, ROOT).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    if not os.path.isdir(source_dirs()[0]):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    print("[perfbench] building (sbt compile) ...", file=sys.stderr)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(fp)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def expected_metrics(trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(args, extra):
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dperfbench.hashes={os.path.join(HERE, 'query_hashes.json')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work] + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(WORK, f"{args.workload}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s; log in {log}")
    for line in open(log, errors="replace"):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"{args.workload} printed no result (exit {proc.returncode}); log in {log}")
    return proc.returncode, lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--fault")
    ap.add_argument("--record-hashes", action="store_true")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    wanted = expected_metrics(args.trace)
    build()
    extra = (["--tiny"] if args.tiny else []) + \
        (["--fault", args.fault] if args.fault else []) + \
        (["--record-hashes"] if args.record_hashes else [])
    rc, line = run_jvm(args, extra)
    result = json.loads(line)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        fail(f"metrics do not match BENCHMARK.json: {sorted(set(got) ^ set(wanted))}", 1)
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
