#!/usr/bin/env python3
"""Benchmark entry point for graft: one workload, one run, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the library and the harness with sbt
(`perfbench/build.sbt`, output classpath in `.bench_build/`) and generates
the synthetic corpus (`perfbench/gen_data.py`, into `.bench_build/data/`);
later runs reuse both while the sources are unchanged. The harness then
runs in one JVM (`local[N]`, N = min(4, cpus)); see perfbench/README.md for
what each workload measures. All sinks, checkpoints, spill and
`java.io.tmpdir` live in `.bench_build/run-<pid>/`, which is deleted on
exit; a `graft_*` entry left in it (or new in /dev/shm) fails the run.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORKLOADS = ("pipelines", "queries")
SF = "0.01"  # scale factor of the generated corpus
TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit: the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
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


def digest_of(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + harness once per source state; returns the classpath."""
    sources = [p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*") if p.is_file()]
    sources += [p for p in (ROOT / "build.sbt", ROOT / "project" / "build.properties",
                            HERE / "build.sbt", HERE / "project" / "build.properties") if p.exists()]
    stamp = digest_of(sources)
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:8]:
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def data():
    """Generates the corpus at scale factor SF once; returns its directory."""
    root = BUILD / "data"
    done = BUILD / "data.done"
    stamp = digest_of([HERE / "gen_data.py"]) + SF
    if not (done.exists() and done.read_text() == stamp):
        shutil.rmtree(root, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen_data.py"), str(root), SF],
                       check=True, timeout=600)
        done.write_text(stamp)
    return root


def graft_entries(d):
    try:
        return {e.name for e in Path(d).iterdir() if e.name.startswith("graft_")}
    except OSError:
        return set()


def java_cmd(cp, run_dir, cpus, main_args):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dgraft.stream.tmp={run_dir}/stream",
            f"-Dderby.system.home={run_dir}", "-cp", cp, "perfbench.Main",
            "--cpus", str(cpus), "--run-dir", str(run_dir), *main_args]


def run_jvm(cmd, run_dir, log_path, timeout):
    """Runs the harness JVM in its own process group; returns its stdout lines."""
    for sub in ("tmp", "stream", "local", "sinks"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out.splitlines()


def tagged(lines, tag):
    for l in reversed(lines):
        if l.startswith(tag + " "):
            return json.loads(l[len(tag) + 1:])
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala" / "graft").is_dir()):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft missing)")

    cp = build()
    data_dir = data()
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = BUILD / f"run-{os.getpid()}"
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    shm_before = graft_entries("/dev/shm")
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--data", str(data_dir), "--expected", str(HERE / "expected.json")]
    if args.trace:
        main_args += ["--spans", str(BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl")]
    log_path = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    try:
        main_args += ["--launch-ms", str(int(time.time() * 1000))]
        rc, lines = run_jvm(java_cmd(cp, run_dir, cpus, main_args), run_dir, log_path, TIMEOUT_S)
        leaks = sorted(graft_entries(run_dir / "tmp") | graft_entries(run_dir / "stream")
                       | (graft_entries("/dev/shm") - shm_before))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result, detail = tagged(lines, "PERFBENCH_RESULT"), tagged(lines, "PERFBENCH_DETAIL")
    if rc != 0 or result is None:
        fail(f"harness exited {rc} without a result; see {log_path}")
    if leaks:
        print(f"perfbench: run left temp entries behind: {leaks}", file=sys.stderr)
        result["correct"] = False
    if detail is not None:
        detail["sf"] = SF
        print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
