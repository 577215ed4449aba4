#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine plus the harness with the
standalone sbt build in perfbench/ (once per source tree, outputs under
.bench_build/), runs one workload in a fresh JVM, and prints a report
followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones. Exits non-zero, without a result line,
when the engine sources are missing or the build or run fails, and
non-zero after the result line when an output checker failed.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175          # a run must end within 180 s
BUILD_TIMEOUT_S = 840     # the first run in a checkout may take 900 s
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over the build inputs: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_killable(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh,
            stderr=subprocess.STDOUT)
    with open(log) as fh:
        out = fh.read().splitlines()
    cps = [l for l in out if "scala-2.13/classes" in l and ":" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="damage one cycle's outputs to show the checker "
                         "rejects them")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the "
             "repository root")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    digest = source_digest()
    cp = build(digest)
    build_s = time.monotonic() - t_start

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
           *opens, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--corrupt", str(a.corrupt)]
    # the build may use the 900 s first-run allowance; the run gets 175 s
    left = DEADLINE_S - (time.monotonic() - t_start) + build_s
    rc = run_killable(cmd, max(10, left), cwd=work, stdout=sys.stderr)
    result_path = os.path.join(work, "result.json")
    if rc is None:
        fail("run exceeded its time limit", 4)
    if rc != 0 or not os.path.exists(result_path):
        fail(f"run failed (exit {rc})", 5)
    with open(result_path) as fh:
        res = json.load(fh)

    kind = "per_layer" if a.trace else "end_to_end"
    have = res[kind]
    missing = [m["name"] for m in spec[kind] if m["name"] not in have]
    if missing and kind == "end_to_end":
        fail(f"end-to-end metrics not measured: {' '.join(missing)}", 6)
    # a per-layer metric of a layer this workload does not exercise is 0
    metrics = {m["name"]: {"value": have.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    dropped = sorted(set(have) - set(metrics))

    # report, then the result line last
    git = shutil.which("git") and subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    prov = dict(res["provenance"], source_sha256=digest,
                git_sha=git.stdout.strip() if git and git.returncode == 0 else None)
    print(f"# provenance {json.dumps(prov, sort_keys=True)}")
    print(f"# build_s {build_s:.1f}")
    print(f"# samples {json.dumps(res['samples'], sort_keys=True)}")
    for c in res["checks"]:
        print(f"# check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"# workload_end_to_end {json.dumps(res['workload_end_to_end'], sort_keys=True)}")
    for name, m in metrics.items():
        print(f"# {kind} {name} = {m['value']:.6g} {m['unit']}")
    if missing:
        print(f"# not applicable to {a.workload} (reported as 0): {' '.join(missing)}")
    if dropped:
        print(f"# measured but not in BENCHMARK.json: {' '.join(dropped)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.stdout.flush()
    last = os.path.join(BUILD, "last", a.workload)
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for f in ("result.json", "spans.jsonl"):
        if os.path.exists(os.path.join(work, f)):
            shutil.copy(os.path.join(work, f), last)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
