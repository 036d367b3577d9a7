#!/usr/bin/env python3
"""Run one NEF ingest benchmark workload and print its JSON result.

    python3 nefbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (nefbench/build.sbt); later runs reuse the
build while no source file has changed. All inputs, Spark scratch space
and traces stay under .bench_work/ in the checkout. The last line of
stdout is one JSON object with the keys correct, attempted, failed and
metrics; the exit code is 0 only when that line was produced.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ingest_bulk", "ingest_paced")
RUN_LIMIT_S = 172
BUILD_LIMIT_S = 850

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"nefbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    os.makedirs(WORK, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {log})", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def check_result(line, trace):
    """The result line must carry exactly the contract's keys."""
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, sorted(r)
    assert isinstance(r["correct"], bool)
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert isinstance(r["failed"], int) and r["failed"] >= 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = r["metrics"]
    missing = sorted(set(want) - set(got))
    assert not missing, f"metrics missing from the result: {missing}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name]["unit"], unit)
    return dict(r, metrics={n: got[n] for n in want})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Ingest.scala")):
        fail("the engine's sources (src/main/scala) are not in this checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is not in this checkout")
    build()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", cp, "nefbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir,
    ]
    # the JVM's own limit: a first run may add the build's time on top
    limit = RUN_LIMIT_S
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        fail(f"the run did not finish within {limit:.0f} s", 4)
    finally:
        if a.trace:
            trace = os.path.join(run_dir, "trace.jsonl")
            if os.path.exists(trace):
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                shutil.move(trace, os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        fail(f"the benchmark JVM exited with code {proc.returncode}", 5)
    for l in lines[:-1]:
        print(l)
    try:
        result = check_result(lines[-1], a.trace)
    except (ValueError, AssertionError, KeyError) as e:
        sys.stderr.write(out[-4000:])
        fail(f"malformed result line: {e}", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
