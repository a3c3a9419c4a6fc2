#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <headline|ingest|stream> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark with sbt (offline) and caches the classpath under
.bench_build/; later runs reuse it until a source file changes. Each run
starts one JVM, whose last stdout line is the result object; that line
is checked and printed as this script's last line. Scratch files go to
.bench_work/ (removed after the run); spans and JVM logs go to
.bench_out/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The cached runtime classpath, rebuilt when any source changed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Xmx2g"])
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def declared(trace):
    """The metrics BENCHMARK.json declares for this mode, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def complete(res, trace):
    """Every declared metric, in declared order. A per-layer metric the
    workload does not exercise reads 0; an end-to-end metric must be
    present and non-zero."""
    got = res["metrics"]
    names = [m["name"] for m in declared(trace)]
    extra = sorted(set(got) - set(names))
    if extra:
        raise ValueError(f"undeclared metrics {extra}")
    out = {}
    for m in declared(trace):
        v = got.get(m["name"])
        if v is None:
            if not trace:
                raise ValueError(f"end-to-end metric {m['name']} missing")
            v = {"value": 0.0, "unit": m["unit"]}
        if v["unit"] != m["unit"]:
            raise ValueError(f"{m['name']} unit {v['unit']}, declared {m['unit']}")
        if not trace and v["value"] == 0:
            raise ValueError(f"end-to-end metric {m['name']} is 0")
        out[m["name"]] = v
    res["metrics"] = out
    return res


def check_result(line):
    res = json.loads(line)
    if set(res) != RESULT_KEYS:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int) or res["failed"] < 0:
        raise ValueError("failed must be a whole number >= 0")
    for k, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {k} malformed: {m}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"program source {f} not found under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = classpath()
    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:MetaspaceSize=512m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--home", HERE, "--work", work, "--out", OUT])
    err_path = os.path.join(OUT, f"{a.workload}-{a.seed}-t{a.trace}.stderr.log")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s; see {err_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(proc.stdout)
        fail(f"benchmark JVM exited {proc.returncode}; see {err_path}")
    try:
        res = complete(check_result(lines[-1]), a.trace)
    except ValueError as e:
        sys.stdout.write(proc.stdout)
        fail(f"malformed result line: {e}")
    print("\n".join(lines[:-1]))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
