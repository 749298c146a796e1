#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program
from source together with the harness in perfbench/ (sbt, offline), into
.bench_build/ and the sbt target directories; later runs reuse the build
while the sources are unchanged. The harness runs in a forked JVM with
the program's own JVM options. The last line of standard output is the
result object; metric lines, run facts and check results come before
it. Exits non-zero, without a result line, when the program cannot be
built or the run does not finish; exits 1 when an output check fails.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys

BUILD = ".bench_build"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "2g"
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def commit():
    """The git commit when the checkout is a repository, else "none"."""
    try:
        p = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 and p.stdout.strip() else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repos}"
    return env


def build(digest):
    """Compile program + harness once per source digest; return the launch file."""
    launch = os.path.join(BUILD, f"launch-{digest}.txt")
    if os.path.isfile(launch):
        return launch
    os.makedirs(BUILD, exist_ok=True)
    # the class files are shared by every digest: only the newest build's
    # launch file may stay, or going back to older sources would reuse them
    for f in os.listdir(BUILD):
        if f.startswith("launch-"):
            os.remove(os.path.join(BUILD, f))
    log = os.path.join(BUILD, "build.log")
    target = os.path.abspath(launch)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"benchLaunch {target}"],
                cwd="perfbench", env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(launch):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (see {log})", 3)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--plant", choices=["0", "1"], default="0",
                    help="corrupt the output before the checks (tests the checks)")
    a = ap.parse_args()

    for p in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(p):
            fail(f"{p} not found: run from the root of a full checkout")
    digest = source_digest()
    launch = build(digest)

    cp, opts = "", []
    with open(launch) as f:
        for line in f:
            kind, _, val = line.rstrip("\n").partition(" ")
            if kind == "CP":
                cp = val
            elif kind == "OPT" and not val.startswith("-Xmx"):
                opts.append(val)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "run")
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
           + opts + ["-cp", cp, "perfbench.Main",
                     "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace,
                     "--work", work, "--cores", str(cores),
                     "--heap", HEAP, "--source", digest, "--commit", commit(),
                     "--plant", a.plant])
    log = os.path.join(BUILD, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run did not finish in {RUN_TIMEOUT_S} s (log: {log})", 4)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail(f"no result line (exit {proc.returncode}, log: {log})", 5)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
