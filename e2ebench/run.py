#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 e2ebench/run.py --workload trends_dag --seed 1 --seconds 10 --trace 0

Workloads: trends_dag, registry_mix (see NOTES.md).

The script builds the engine and the harness from source with sbt (once
per checkout; later runs reuse the build while the sources are
unchanged), generates the workload's inputs from the seed, runs one JVM
that measures the workload, and prints one JSON object as the last line
of standard output. Everything it writes stays under e2ebench/work/ and
the sbt target directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()  # process start: setup_s is measured from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("trends_dag", "registry_mix")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same
# list the engine's build passes to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "e2ebench.classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=800)
    sys.stderr.write(p.stdout[-3000:])
    if p.returncode != 0:
        raise SystemExit(f"sbt build failed ({p.returncode})")
    cp = [ln for ln in p.stdout.splitlines()
          if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--bless", action="store_true",
                    help="store the registry rows' fingerprints in expected/ and exit")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("engine sources not found next to e2ebench/ — run from a checkout root")
        return 2

    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    sys.path.insert(0, HERE)
    import gen  # noqa: E402  (benchmark-local module)

    t_b0 = time.time()
    classpath = build()
    t_built = time.time()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = gen.generate(a.workload, a.seed, os.path.join(work, "input"))
    t_gen = time.time()

    result_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "e2ebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--input", inputs,
              "--expected", os.path.join(HERE, "expected"),
              # setup_s counts from process start, minus the one-off build
              "--t0-ms", str(int((T0 + (t_built - t_b0)) * 1000)),
              "--gen-s", f"{t_gen - t_built:.6f}",
              "--out", result_file]
           + (["--bless", os.path.join(HERE, "expected", "registry.tsv")] if a.bless else []))
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=3600 if a.bless else RUN_TIMEOUT_S, cwd=ROOT)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        log("the JVM ran past its time limit")
        rc = 124
    result = None
    if a.bless:
        shutil.rmtree(work, ignore_errors=True)
        return rc
    if rc == 0 and os.path.exists(result_file):
        with open(result_file) as f:
            result = json.load(f)
    keep = os.path.join(HERE, "work", "last")
    os.makedirs(keep, exist_ok=True)
    for name in ("detail.json", "spans.json"):
        src = os.path.join(work, name)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(keep, f"{a.workload}-t{a.trace}-{name}"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        log(f"run failed (exit {rc})")
        return 1
    log(f"detail: {os.path.relpath(keep, ROOT)}/{a.workload}-t{a.trace}-detail.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
