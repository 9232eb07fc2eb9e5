#!/usr/bin/env python3
"""Request-level benchmark: build once, then run one workload.

    python3 perfbench/run.py --workload headline|dashboard|live \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark with sbt (offline); later runs reuse the build
while the sources are unchanged. The benchmark itself is a JVM program
(perfbench/src/main/scala); this script only builds it, runs it with a
time limit, and passes its output through. The last stdout line is the
result object. Exits non-zero, without a result line, when the build or
the run fails or a response fails its check.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# a fixed heap: no resizing while the run warms up or is timed
HEAP = ["-Xms2g", "-Xmx2g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            if "target" in p.relative_to(ROOT).parts:
                continue
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(out):
    """Compile with sbt and return (classpath, jvm options)."""
    stamp = source_stamp()
    spec = out / "run-spec.txt"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp and spec.exists():
        lines = spec.read_text().splitlines()
        return lines[0], lines[1:]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={pathlib.Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRunSpec"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    built = BENCH / "target" / "run-spec.txt"
    if r.returncode != 0 or not built.exists():
        fail(f"build failed (sbt exit {r.returncode})")
    out.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(built, spec)
    (out / "stamp").write_text(stamp)
    lines = spec.read_text().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["headline", "dashboard", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT}")
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    cp, jvm_opts = build(out)

    work = out / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the engine build's forked-JVM options, with this benchmark's heap
    opts = [o for o in jvm_opts if not o.startswith(("-Xmx", "-Xms"))] + HEAP + [f"-Djava.io.tmpdir={tmp}"]
    cmd = ["java", *opts, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work)]
    # Spark's scratch space stays inside the checkout (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if p.returncode != 0:
        # a failed check still reports what it measured, on stderr
        sys.stderr.write(stdout)
        fail(f"benchmark exited {p.returncode}")
    if not lines or not lines[-1].startswith("{"):
        fail("benchmark printed no result")
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
