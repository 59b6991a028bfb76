#!/usr/bin/env python3
"""Run one benchmark draw of the graft engine.

    python3 perfbench/run.py --workload flat --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The first call compiles the
engine's sources together with the harness into one jar (sbt, offline),
then runs every phase once at token sizes to write the batch fixture
tables and a class-data-sharing archive of the classes a run loads.
Every measured run starts from that archive, which saves each ~4 s of
JVM and Spark start-up and ~4 s of first-use class loading. Jar and
archive are rebuilt when a source file changes. The JVM prints a stamp line and then one JSON
result line; this script checks that line against BENCHMARK.json and
prints it last. It exits non-zero, without a result line, when the
build, the run or that check fails.

`--record-digests` rewrites perfbench/expected_digests.json with the
batch-query result digests of this run (do it on a commit whose batch
outputs are known to be right).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
JAR = BENCH / "target" / "perfbench.jar"
CDS_ARCHIVE = BUILD_DIR / "classes.jsa"
DIGESTS = BENCH / "expected_digests.json"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Bump when the fixture generator changes, so stale tables are not reused.
FIXTURES_VERSION = 1
FIXTURES = BUILD_DIR / f"fixtures-{FIXTURES_VERSION}"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        fail("set SPARK_HOME to the Spark installation")
    return Path(submit).resolve().parent.parent


def source_stamp():
    """Digest of every file the build reads, and of this script, whose
    JVM flags the class-data-sharing archive must match."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "run.py"]
    for d in (ENGINE_SRC, BENCH / "src" / "main" / "scala"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def jvm_command(work, extra):
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
        # JVM log lines (class-data-sharing notes among them) go to stderr:
        # standard output carries only the stamp and result lines.
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-Dspark.ui.enabled=false", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
    ] + extra + ["-cp", f"{JAR}:{spark_home() / 'jars'}/*", "perfbench.Main", "--work", str(work),
                 "--fixtures", str(FIXTURES)]


def run_jvm(args, extra=()):
    """Run the harness JVM in a fresh work directory; return (exit, stdout)."""
    work = BUILD_DIR / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        code, out = run_group(jvm_command(work, list(extra)) + args, ROOT, RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE)
        for f in work.glob("trace-*.json"):
            traces = BUILD_DIR / "traces"
            traces.mkdir(exist_ok=True)
            shutil.move(str(f), str(traces / f.name))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, out or ""


def build(digests_args):
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"no engine sources under {ENGINE_SRC}; run from a source checkout")
    stamp = source_stamp()
    stamp_file = BUILD_DIR / "build.stamp"
    if JAR.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    CDS_ARCHIVE.unlink(missing_ok=True)
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    code, _ = run_group(["sbt", "-batch", "package"], BENCH, BUILD_TIMEOUT_S, env=env,
                        stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    code, out = run_jvm(["--workload", "flat", "--seed", "0", "--seconds", "0", "--trace", "0",
                         "--cds-dump", "1"] + digests_args,
                        [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    if code != 0 or not CDS_ARCHIVE.is_file():
        sys.stderr.write(out)
        fail(f"class-data-sharing dump run exited {code}")
    stamp_file.write_text(stamp)


def declared_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}, [w["name"] for w in spec["workloads"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()

    declared, workloads = declared_names(args.trace)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; BENCHMARK.json has {workloads}")
    if not DIGESTS.is_file() and not args.record_digests:
        fail(f"missing {DIGESTS}")
    digests_args = ["--record-digests", str(DIGESTS)] if args.record_digests \
        else ["--digests", str(DIGESTS)]
    build(["--record-digests", str(BUILD_DIR / "dump-digests.json")] if args.record_digests
          else digests_args)

    code, out = run_jvm(["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace)]
                        + digests_args, [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"])
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        fail(f"benchmark JVM exited {code}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(out or "")
        fail("last line is not JSON")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(result)}")
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    if printed != declared:
        fail(f"printed metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(declared) - set(printed))}, "
             f"extra {sorted(set(printed) - set(declared))}")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
