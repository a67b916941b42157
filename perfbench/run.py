#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <analytics|dedup|ingest> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <analytics|dedup> --seed 0 --seconds 0 --expect

Builds the program and the harness from source on first use (sbt, offline),
then runs one JVM that sets up, measures for about --seconds seconds and
checks every output. The last stdout line is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Build outputs, run scratch, span files and the results log live under
.bench_build/ (or $CARGO_TARGET_DIR) in the checkout.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
WORKLOADS = ("analytics", "dedup", "ingest")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def source_files():
    """Every file the build reads from the checkout, program and harness."""
    roots = [ROOT / "src" / "main", ROOT / "project", BENCH / "src" / "main", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "jvm.options"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.relative_to(r).parts]
    return sorted(f for f in files if f.is_file())


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def git_sha():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def build(out, fp):
    """Compile program + harness with sbt; cache the runtime classpath."""
    stamp = out / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # the build's scratch files stay in the checkout too
    tmp = out / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    print("perfbench: building program and harness (sbt)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S,
        stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    out.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": classpath}))
    return classpath


def jvm_options():
    lines = (BENCH / "jvm.options").read_text().splitlines()
    return [l.strip() for l in lines if l.strip() and not l.strip().startswith("#")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", action="store_true",
                    help="record expected results of a query workload into expected/ and exit")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main/scala/graft)")

    out = build_dir()
    fp = fingerprint()
    classpath = build(out, fp)
    start = time.monotonic()  # the run's own time limit excludes the build

    work = out / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha(), PERFBENCH_SOURCE_SHA=fp,
               PERFBENCH_HEAP=HEAP)
    cmd = (["java"] + jvm_options() +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--bench", str(BENCH), "--work", str(work), "--out", str(out / "results")] +
           (["--expect", str(BENCH / "expected" / f"{args.workload}.tsv")] if args.expect else []))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        limit = max(10.0, RUN_LIMIT_S - (time.monotonic() - start))
        stdout, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    if args.expect and proc.returncode == 0:
        return
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
