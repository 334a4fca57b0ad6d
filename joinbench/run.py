#!/usr/bin/env python3
"""Spatial-join benchmark entry point.

    python3 joinbench/run.py --workload <bulk_self|alias_dist>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt when the sources changed since the last build (the build
output and a stamp of the sources live under joinbench/target), then runs
one JVM for one workload and relays its output; the last stdout line is the
JSON result. Exits non-zero when the build fails, the run fails or an
output is wrong.

    python3 joinbench/run.py --profile [--seed <n>] [--seconds <s>]

runs the traced variant of every workload and writes the per-layer table
to joinbench/PROFILE.json.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ["bulk_self", "alias_dist"]
BUILD_TIMEOUT_S = 880
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[joinbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: both build definitions and sources."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += sorted(os.path.join(d, f) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} missing next to joinbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "benchLaunch"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def java_cmd(args):
    with open(LAUNCH) as f:
        launch = json.load(f)
    return (["java", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(ROOT, ".bench_build", "tmp")]
            + launch["java_options"]
            + ["-cp", os.pathsep.join(launch["classpath"]), "joinbench.Main"]
            + args)


def run_one(args):
    """One workload run; returns (exit code, last stdout line)."""
    os.makedirs(os.path.join(ROOT, ".bench_build", "tmp"), exist_ok=True)
    p = subprocess.Popen(java_cmd(args), cwd=ROOT, stdout=subprocess.PIPE,
                         text=True)
    last = ""
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    for line in out.splitlines():
        print(line, file=sys.stderr if line.startswith("{") else sys.stdout)
        if line.strip():
            last = line
    return p.returncode, last


def profile(argv):
    seed = argv[argv.index("--seed") + 1] if "--seed" in argv else "1"
    seconds = argv[argv.index("--seconds") + 1] if "--seconds" in argv else "10"
    table = {}
    for w in WORKLOADS:
        out = os.path.join(ROOT, ".bench_build", f"profile-{w}.json")
        code, _ = run_one(["--workload", w, "--seed", seed, "--seconds",
                           seconds, "--trace", "1", "--profile", out])
        if code != 0:
            fail(f"traced run of {w} failed")
        with open(out) as f:
            table[w] = json.load(f)
    with open(os.path.join(HERE, "PROFILE.json"), "w") as f:
        json.dump(table, f, indent=2)
        f.write("\n")


def main(argv):
    build()
    if "--profile" in argv:
        profile(argv)
        return 0
    code, last = run_one(argv)
    if last.startswith("{"):
        print(last)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
