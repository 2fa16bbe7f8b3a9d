#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/perfbench/`;
later runs reuse the build while the sources are unchanged. The JVM runs
`perfbench.Main` (see its doc comment for the closed loop), and this script
prints the run's full record as one JSON line, then, as the last line, the
result: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` the per-layer ones.

Records and traces are also kept under `.bench_build/perfbench/results/`.
Exits non-zero, without a result line, when the engine sources are missing
or the build or the run fails.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ohlcv_pipeline", "ohlcv_batch", "llm_dedup")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Runs `cmd` in its own process group with output to `log_path`; kills
    the whole group on timeout and always waits for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_files():
    """Every file the build reads: engine sources and build definitions,
    and the benchmark's own."""
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles engine + benchmark with sbt when the sources changed; returns
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_path) and os.path.isfile(stamp_path):
        with open(stamp_path) as fh:
            if fh.read().strip() == stamp:
                with open(cp_path) as cp:
                    return cp.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     HERE, log, BUILD_TIMEOUT_S, env)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if l.startswith(os.sep) and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_path, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long input, for the smoke test")
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    tmp = os.path.join(BUILD, "jvmtmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--scale", a.scale])
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = os.path.join(results, tag + ".log")
    t0 = time.time()
    rc = run_bounded(cmd, ROOT, log, RUN_TIMEOUT_S)
    record_path = os.path.join(work, "record.json")
    if rc != 0 or not os.path.isfile(record_path):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}, {time.time() - t0:.0f} s); log in {log}")
    with open(record_path) as fh:
        record = json.load(fh)
    shutil.copy(record_path, os.path.join(results, tag + ".json"))
    spans = os.path.join(work, "spans.json")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(results, tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))


if __name__ == "__main__":
    main()
