#!/usr/bin/env python3
"""KG-construction benchmark entry point.

    python3 kgbench/run.py --workload kg_sweep --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source with sbt when the sources changed since the last build, then runs one
workload in one JVM (kgbench.Main) and prints its report line followed by the
result line, which is always the last line of stdout. Exits non-zero without
a result line when the engine sources are missing, the build fails, or the
JVM fails or overruns its time budget.

Extra flags for the self-test: --tiny 1 shrinks every input, --corrupt 1
corrupts the checked output so the correctness check must fail.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORK = HERE / "work"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "kgbench.stamp"
WORKLOADS = ("kg_sweep", "kg_blocked", "kg_checkpointed", "dedup_boilerplate")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles or reads."""
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("kgbench: building engine and benchmark with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"sbt compile failed with code {r.returncode}", 3)
    STAMP.write_text(stamp)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=("0", "1"), required=True)
    p.add_argument("--tiny", choices=("0", "1"), default="0")
    p.add_argument("--corrupt", choices=("0", "1"), default="0")
    a = p.parse_args()

    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (pathlib.Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory", 2)
    build()

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{CLASSES}{os.pathsep}{pathlib.Path(spark_home) / 'jars' / '*'}",
        "kgbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(WORK), "--tiny", a.tiny, "--corrupt", a.corrupt,
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    env = dict(os.environ, LC_ALL="C.utf8")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM overran {RUN_TIMEOUT_S} s", 4)
    if proc.returncode != 0:
        fail(f"JVM exited with code {proc.returncode}", 5)

    lines = [line for line in out.splitlines() if line.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("JVM printed no result line", 6)
    # the result line carries exactly the metrics BENCHMARK.json declares
    # for this mode; the report line before it keeps everything measured
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = declared["per_layer" if a.trace == "1" else "end_to_end"]
    metrics = {}
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}", 7)
        metrics[m["name"]] = got
    result["metrics"] = metrics
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
