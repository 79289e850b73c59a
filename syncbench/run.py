#!/usr/bin/env python3
"""Sync-path benchmark: change-to-visible latency and sync throughput.

Usage (from the repository root):

    python3 syncbench/run.py --workload cdc_sql_full --seed 1 --seconds 12 --trace 0

Builds the repository's main sources together with the benchmark driver
(syncbench/build.sbt; rebuilt only when a source file changed), runs one
workload for one seed in a fresh JVM, checks the output and prints one
JSON object as the last line of stdout: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See
syncbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".syncbench"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
WORKLOADS = ("cdc_sql_full", "cdc_scoped")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# the JVM flags the root build gives forked runs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"syncbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the root build uses as its unmanagedBase."""
    build = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    fail("no Spark jar directory: neither the root build's unmanagedBase nor $SPARK_HOME/jars")


def source_digest():
    h = hashlib.sha256()
    inputs = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(jars):
    stamp = STATE / "build.stamp"
    digest = source_digest()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    env = dict(os.environ, SYNCBENCH_SPARK_JARS=str(jars))
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = Path.home() / ".sbt" / "repositories"
        extra = ["-Dsbt.offline=true"]
        if repos.is_file():
            extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([opts] + extra).strip()
    log = STATE / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed; see {log}")
    stamp.write_text(digest)


def run_jvm(jars, args):
    """One measured process; returns its result line."""
    work = STATE / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "-Xmx3g",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=64"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["syncbench.SyncBench", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--defs", str(BENCH / "defs")]
    if args.trace:
        cmd += ["--spans", str(STATE / "traces" / f"{args.workload}-{args.seed}.jsonl")]
    log = STATE / "logs" / f"{args.workload}-{args.seed}-{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run exited {proc.returncode}; see {log}")
    return lines[-1]


def declared(trace):
    """Metric name -> unit for this mode, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def self_check(line, trace):
    """The result must parse on its own, with exactly the contract's
    keys and exactly the declared metrics and units."""
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, sorted(r)
    assert isinstance(r["correct"], bool)
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert isinstance(r["failed"], int) and r["failed"] >= 0
    want = declared(trace)
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    assert got == want, f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json"
    for k, v in r["metrics"].items():
        assert set(v) == {"value", "unit"} and isinstance(v["value"], (int, float)), k


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: run from a full checkout")
    jars = spark_jars()
    STATE.mkdir(exist_ok=True)
    build(jars)

    line = run_jvm(jars, args)
    try:
        self_check(line, args.trace)
    except (AssertionError, ValueError, KeyError) as e:
        fail(f"output self-check failed: {e}")
    print(line, flush=True)


if __name__ == "__main__":
    main()
