#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload clf_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/ and target/ dirs;
later runs reuse the build while the sources are unchanged. Each run
starts from an empty work directory, so set-up is cold every time.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (name -> value and unit). With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 they are its per-layer
metrics, measured in a separate traced run that also writes a span file.
See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("clf_batch", "stream_replay")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# What spark-submit adds for Spark 4 on JDK 17 (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(deadline):
    """Compiles engine + harness once per source digest; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}: "
             "run from the root of a full checkout")
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    # sbt binds a unix socket under java.io.tmpdir while it boots; a relative
    # path keeps it inside the checkout and short of the socket-name limit
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Djava.io.tmpdir={os.path.relpath(tmp, HERE)}",
           "-J-XX:-UsePerfData", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "scala-2.13" not in cp or cp.startswith("["):
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    started = time.time()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_file) as f:
        spec = json.load(f)
    classpath = build(started + BUILD_LIMIT_S)
    built = time.time()

    # every run starts cold: no inputs, checkpoints or Spark dirs survive
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sys.path.insert(0, HERE)
    import gen_events
    if args.workload == "clf_batch":
        gen_events.write_table(os.path.join(work, "events"), args.seed)
    else:
        gen_events.write_stream(os.path.join(work, "stream"), args.seed, args.seconds)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL,
                              timeout=RUN_LIMIT_S - (time.time() - built))
    except subprocess.TimeoutExpired:
        fail("workload timed out")
    out = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out:
        fail(f"workload exited with {proc.returncode}")
    result = json.loads(out[-1])
    for line in out[:-1]:
        print(line)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing and not args.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    if missing:
        print(f"not exercised by {args.workload}, reported as 0: {', '.join(missing)}")
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    attempted, failed = result["attempted"], result["failed"]
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
    print(f"{'failed_frac':32s} {failed / max(attempted, 1):14.4f} ratio ({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
