#!/usr/bin/env python3
"""Spatial workload benchmark.

    python3 spatialbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark with sbt
(once per source fingerprint, cached under spatialbench/work/build), then
runs one workload in a fresh JVM with local[nproc] Spark. Inputs, stores,
records and traces all live under spatialbench/work. The last stdout line
is the result object; the exit code is non-zero if any op failed its check.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("pathology_overlap", "osm_points")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[spatialbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def sources():
    """Every file the build reads: the library's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the JVM options and classpath lines."""
    fp = fingerprint()
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "fingerprint")
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(launch) as fh:
                    return fh.read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building library and benchmark with sbt")
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                          timeout=700, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"sbt build failed with exit code {code}")
    log(f"built in {time.time() - t0:.1f}s")
    with open(os.path.join(HERE, "target", "launch.txt")) as fh:
        lines = fh.read().splitlines()
    with open(launch, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(stamp, "w") as fh:
        fh.write(fp + "\n")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"library source missing: {os.path.join(ROOT, need)}")
    launch = build()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = (["java", HEAP, "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")] + launch +
           ["spatialbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK,
            "--launch-ms", str(int(time.time() * 1000))])
    try:
        code, out = run_group(cmd, timeout=RUN_TIMEOUT_S, cwd=WORK,
                              stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S}s")
    lines = [l for l in out.splitlines() if l.strip()]
    for line in lines[:-1]:
        print(line)
    if lines and lines[-1].startswith("{"):
        print(lines[-1], flush=True)
    sys.exit(code if code != 0 or lines else 1)


if __name__ == "__main__":
    main()
