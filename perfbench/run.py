#!/usr/bin/env python3
"""Benchmark of the graft validation engine.

Builds the engine sources (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) through perfbench/build.sbt. Then one JVM
generates the seeded inputs (or finds them cached) and a fresh JVM runs one
workload on them and prints its JSON result as the last stdout line, so
input generation never warms the measured JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # every workload, untraced and traced
                                            # (legs inside the traced runs), tiny
                                            # inputs, one measured JVM

Run it from the repository root. Workloads, metrics and bounds are declared
in BENCHMARK.json. Everything the benchmark writes stays under perfbench/
(target/, project/target/, .work/), apart from sbt's own caches.
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
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
SMOKE_TIMEOUT_S = 900

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    """SPARK_HOME, or the installation the spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4.1 installation")
    return home


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles when the sources changed since the last build."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    if not shutil.which("sbt"):
        fail("sbt is needed to build the benchmark and is not on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"]
    code, out = run_group(cmd, HERE, env, BUILD_TIMEOUT_S, merge_stderr=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_group(cmd, cwd, env, timeout, merge_stderr):
    """Runs cmd in its own process group and captures its stdout (with
    stderr merged in, or passed through); kills the group on timeout and
    waits for it to end. Returns (exit code, captured output)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT if merge_stderr else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out or ""


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def prepare_and_run(args, timeout):
    """Runs the input-preparation JVM, then the measured one, within
    `timeout` seconds in all. Returns the measured JVM's (exit code, lines)."""
    deadline = time.monotonic() + timeout
    code, lines = run_jvm(["--prepare"] + args, timeout, ["-XX:TieredStopAtLevel=1"])
    if code != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"input preparation failed (exit {code})")
    return run_jvm(args, max(1, deadline - time.monotonic()))


def run_jvm(args, timeout, jvm_opts=()):
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx2g", "-Xms2g", "-XX:+UseG1GC", *jvm_opts, f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main", "--work", WORK] + args)
    # the engine session must see no tuning overrides and keep its scratch
    # space inside the work directory
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    code, out = run_group(cmd, ROOT, env, timeout, merge_stderr=False)
    lines = [l for l in out.splitlines() if l.strip()]
    return code, lines


def check_line(line, trace):
    """Parses one JVM result line and checks it carries exactly the
    declared metrics with their units."""
    res = json.loads(line)
    want = declared_metrics(trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        fail(f"metrics differ from BENCHMARK.json: missing={missing} extra={extra} unit={wrong}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, untraced and traced, on tiny inputs")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repository")
    if not a.smoke and not a.workload:
        fail("--workload is required (or --smoke)")

    build()
    if a.smoke:
        code, lines = prepare_and_run(["--workload", "all", "--smoke", "--seed", str(a.seed),
                                       "--seconds", "1", "--trace", "0"], SMOKE_TIMEOUT_S)
        results = [l for l in lines if l.startswith("{")]
        for l in lines:
            if not l.startswith("{"):
                print(l)
        if len(results) != 4:
            fail(f"smoke run printed {len(results)} results, expected 4 (exit {code})")
        parsed = [check_line(l, trace=i % 2 == 1) for i, l in enumerate(results)]
        total = {"correct": code == 0 and all(r["correct"] for r in parsed),
                 "attempted": sum(r["attempted"] for r in parsed),
                 "failed": sum(r["failed"] for r in parsed), "metrics": {}}
        print(json.dumps(total))
        sys.exit(0 if total["correct"] else 1)

    code, lines = prepare_and_run(["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace)],
                                  RUN_TIMEOUT_S)
    for l in lines[:-1]:
        print(l)
    if not lines or not lines[-1].startswith("{"):
        fail(f"no result line (exit {code})")
    res = check_line(lines[-1], a.trace == 1)
    print(json.dumps(res))
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
