#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <live_dashboard|operators|all>
                             --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark with sbt
(in offline mode) and writes the fixture tables; later runs reuse both
until a source file changes. Each run gets its own scratch directory under
perfbench/.work/runs/, used as java.io.tmpdir and spark.local.dir, and
removed when the run ends. The JVM gets the heap the program's build gives
its runs: SPARK_DRIVER_MEM, 8g when unset. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"},
with the end-to-end metrics of BENCHMARK.json when --trace is 0 and the
per-layer ones when it is 1. Metric definitions are in perfbench/README.md.
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
WORK = os.path.join(HERE, ".work")
# the fixture scale each workload reads: the dashboard tiles at sf0.1;
# the operator suite, whose cost is mostly fixed per job, at sf0.01
FIXTURE_SF = {"live_dashboard": "0.1", "operators": "0.01"}
WORKLOADS = list(FIXTURE_SF)
BUILD_TIMEOUT_S = 780
FIXTURE_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170
# The module openings Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, cwd=None, env=None, capture=False):
    """Runs a child in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, (out.decode("utf-8", "replace") if capture else "")


def build():
    """Compiles program and benchmark; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            done = json.load(fh)
        if done.get("fingerprint") == fp:
            return done["classpath"]
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    rc, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, capture=True)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or os.pathsep not in cp or "[" in cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"sbt build failed (exit {rc})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def java(cp, tmp, main, args):
    heap = "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")
    return (["java", heap, f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def fixtures(cp, sf):
    """Writes the fixture tables at scale `sf` once per checkout; returns
    their directory."""
    out = os.path.join(WORK, "fixtures", "sf" + sf)
    marker = os.path.join(out, "_COMPLETE")
    if os.path.isfile(marker):
        return out
    log("writing fixture tables")
    tmp = os.path.join(WORK, "fixtures", "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    try:
        rc, _ = run_child(java(cp, tmp, "perfbench.Fixtures", [out, sf]),
                          FIXTURE_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"fixture generation failed (exit {rc})")
    open(marker, "w").close()
    return out


def run_workload(spec, cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its result dictionary."""
    run_dir = os.path.join(WORK, "runs",
                           f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    fix = fixtures(cp, FIXTURE_SF[workload])
    os.makedirs(tmp)
    try:
        args = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--fixtures", fix, "--work", run_dir]
        rc, _ = run_child(java(cp, tmp, "perfbench.Main", args), RUN_TIMEOUT_S)
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.isfile(result_path):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result_path) as fh:
            result = json.load(fh)
        spans = os.path.join(run_dir, "spans.jsonl")
        if trace and os.path.isfile(spans):
            keep = os.path.join(WORK, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"{workload}-{seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result["invalid"]:
        log(f"run INVALID: {result['invalid']}")
    kind = "per_layer" if trace else "end_to_end"
    # a per-layer metric of a layer this workload does not exercise is 0
    metrics = {m["name"]: {"value": result[kind].get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    # a terminated run still stops the JVM or sbt it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not program_present():
        raise SystemExit("the program's sources (build.sbt, src/main/scala) are "
                         "not in this checkout; nothing to measure")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    outs = {w: run_workload(spec, cp, w, a.seed, a.seconds, a.trace) for w in names}
    if a.workload != "all":
        print(json.dumps(outs[a.workload]), flush=True)
        return
    for w, o in outs.items():
        print(f"== {w}: correct={o['correct']} attempted={o['attempted']} "
              f"failed={o['failed']}")
        for k, m in o["metrics"].items():
            print(f"   {k:40s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": all(o["correct"] for o in outs.values()),
        "attempted": sum(o["attempted"] for o in outs.values()),
        "failed": sum(o["failed"] for o in outs.values()),
        "metrics": {f"{w}.{k}": m for w, o in outs.items()
                    for k, m in o["metrics"].items()}}), flush=True)


if __name__ == "__main__":
    main()
