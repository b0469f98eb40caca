#!/usr/bin/env python3
"""Build the engine and the benchmark from this checkout, then run one workload.

    python3 perfbench/run.py --workload serve|bulk|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles (sbt, offline);
later runs reuse the build while no source or build file has changed. Every
file a run writes lands under .perfbench/ in the checkout. The last line of
standard output is the result JSON; the exit code is non-zero if the build,
the run or any output check failed.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = ROOT / ".perfbench"
CLASSPATH = BENCH / "target" / "classpath.txt"
STAMP = WORK / "build.stamp"
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark on JDK 17 outside spark-submit; the same set as the engine's build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads: engine sources and build, benchmark sources and build."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(f for f in files if f.exists())


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def build(src_hash):
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == src_hash:
        return
    log = WORK / "build.log"
    (WORK / "tmp").mkdir(exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           f"-J-Djava.io.tmpdir={WORK / 'tmp'}", "benchClasspath"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(3, f"build failed (exit {rc}); full log in {log}")
    STAMP.write_text(src_hash)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "bulk", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(2, f"no engine sources under {ROOT}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die(2, "sbt and java must be on PATH")

    WORK.mkdir(exist_ok=True)
    src_hash = source_hash()
    build(src_hash)

    # a fresh directory per run, never deleted here: unlinking the thousands
    # of small files a run leaves costs seconds per thousand on some disks
    stamp = time.strftime("%Y%m%d-%H%M%S")
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ, GRAFT_INDEX_ROOT=str(run_dir / "index"))
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(run_dir),
            "--stamp", f"commit={commit()}", "--stamp", f"source_hash={src_hash}",
            "--stamp", f"nproc={os.cpu_count()}", "--stamp", f"heap={HEAP}"]

    # set-up, warm-up and checks take about a minute; a window's unit ops
    # may each run past its end
    timeout = 120 + 3 * args.seconds
    log = run_dir / "stderr.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(4, f"run exceeded {timeout:.0f} s; log in {log}")
    lines = stdout.rstrip("\n").split("\n")
    result = None
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(stdout)
        sys.stderr.write(log.read_text()[-4000:])
        die(5, f"run printed no result (exit {proc.returncode}); log in {log}")
    sys.stdout.write(stdout if stdout.endswith("\n") else stdout + "\n")
    sys.stdout.flush()
    if proc.returncode != 0 or not result["correct"]:
        sys.stderr.write(log.read_text()[-2000:])
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
