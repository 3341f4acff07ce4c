#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Compiles the program (src/main/scala) together with the harness
(perfbench/src/main/scala) with the Scala compiler that ships in Spark's jars,
caches the classes under .bench_build/perfbench keyed by a hash of every
source, then runs the harness in one JVM. The last line of standard output is
the result object; its metric names are checked against BENCHMARK.json.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
JVM_TIMEOUT_S = 170
# Fixed and pre-touched, like the program's own JVM options in build.sbt, with
# the same default collector. 3 GB rather than build.sbt's 8 GB: the live heap
# of either workload stays below 170 MB after GC.
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_result(result, spec, trace):
    """Problems with a result object: its keys, counts and metric names."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append("result keys are %s" % sorted(result))
        return problems
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        problems.append("attempted must be a whole number >= 1")
    if not isinstance(result["failed"], int) or result["failed"] < 0:
        problems.append("failed must be a whole number >= 0")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    missing = sorted(set(declared) - set(got))
    extra = sorted(set(got) - set(declared))
    if missing:
        problems.append("metrics missing: %s" % ", ".join(missing))
    if extra:
        problems.append("metrics not declared in BENCHMARK.json: %s" % ", ".join(extra))
    for name in sorted(set(declared) & set(got)):
        m = got[name]
        if m.get("unit") != declared[name]:
            problems.append("%s: unit %r, declared %r" % (name, m.get("unit"), declared[name]))
        if not isinstance(m.get("value"), (int, float)) or isinstance(m.get("value"), bool):
            problems.append("%s: value is not a number" % name)
    return problems


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def scala_sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BenchError("program sources not found under %s" % PROGRAM_SRC)
    out = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(jars):
    """Compile program + harness once per source hash; the classes dir."""
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BenchError("compilation failed")
        os.rename(tmp, classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def jvm(jars, classes, args):
    tmpdir = os.path.join(BUILD, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmpdir,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
    ]
    cmd = ["java"] + opts + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
    cmd += args + ["--work", os.path.join(BUILD, "work"), "--data", os.path.join(HERE, "data")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("benchmark JVM exceeded %d s" % JVM_TIMEOUT_S)
    except BaseException:
        # interrupted or terminated: the JVM must not outlive this process
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stdout.write(out)
        raise BenchError("benchmark JVM exited with %d" % proc.returncode)
    return out


def terminated(signum, _frame):
    # unwinds through jvm() and subprocess.run, which kill and reap their child
    raise SystemExit(128 + signum)


def main(argv):
    signal.signal(signal.SIGTERM, terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    try:
        spec = load_spec()
        if not a.selftest:
            names = [w["name"] for w in spec["workloads"]]
            if a.workload not in names:
                raise BenchError("unknown workload %r; known: %s" % (a.workload, ", ".join(names)))
        jars = spark_jars()
        classes = build(jars)
        if a.selftest:
            sys.stdout.write(jvm(jars, classes, ["--selftest"]))
            return 0
        out = jvm(jars, classes, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", repr(a.seconds), "--trace", a.trace])
        lines = out.rstrip("\n").split("\n")
        result = json.loads(lines[-1])
        problems = check_result(result, spec, a.trace == "1")
        if problems:
            print(lines[-1], file=sys.stderr)
            raise BenchError("; ".join(problems))
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
        return 0
    except (BenchError, OSError, ValueError, KeyError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
