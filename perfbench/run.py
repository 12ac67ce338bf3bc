#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
together with graft's sources (`perfbench/build.sbt`); later runs reuse that
build while the sources are unchanged. Each run works in a private directory
under `.bench_build/runs/`, which it deletes at the end.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json; with `--trace 1` they are its
per-layer metrics. A detailed report under the metric names of the
benchmark's design (README.md) goes to standard error.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import report  # noqa: E402

SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "bench-build.json")
DEADLINE_S = 175
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (SOURCES, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state.

    Returns the classpath and the digest of the sources it was built from."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"], digest
    log("building graft and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln and ":" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip(), digest


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, args, work, budget_s):
    """Run the harness JVM; its stderr goes to a log file in the work dir."""
    # UsePerfData off: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=err, stderr=err,
                                start_new_session=True)
        try:
            proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: the run did not finish within {budget_s:.0f} s")
        finally:
            # on a timeout, a signal or any other way out: the JVM goes too
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(os.path.join(work, "jvm.log")) as fh:
        lines = fh.read().splitlines()
    for ln in lines:
        if "[perfbench]" in ln:
            print(ln, file=sys.stderr)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit(f"perfbench: the harness exited with code {proc.returncode}")


def _stop(signum, _frame):
    # unwinds through run_jvm's cleanup, which stops the harness JVM
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _stop)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve-read", "batch", "selftest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: a seconds-long smoke run on small inputs")
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        raise SystemExit(f"perfbench: graft's sources are missing under {SOURCES}")
    classpath, digest = build()
    t0 = time.time()  # the run's own time limit starts after the build
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "raw.json")
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--size", a.size, "--work", work, "--out", out,
                            "--cache", os.path.join(ROOT, ".bench_build", "cache", digest),
                            "--cpus", str(cpus())], work, DEADLINE_S - (time.time() - t0))
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        # the last run's JVM log survives for diagnosis; everything else goes
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copyfile(os.path.join(work, "jvm.log"), os.path.join(ROOT, ".bench_build", "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)

    result, detail = report.summarize(raw, tiny=a.size == "tiny")
    if not result["correct"]:
        log_path = os.path.join(ROOT, ".bench_build", "last-jvm.log")
        with open(log_path) as fh:
            errors = [ln for ln in fh if "Exception" in ln or "ERROR" in ln]
        sys.stderr.write("".join(errors[:40]))
    print(json.dumps(detail, indent=1, sort_keys=True), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
