#!/usr/bin/env python3
"""The engine benchmark: one command per workload run.

    python3 perfbench/run.py --workload drift_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the inputs from the seed
(perfbench/gen.py), runs the workload in one JVM sized from the host, checks
the outputs, and prints as its last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, where `metrics` holds the
median of every `end_to_end` metric of BENCHMARK.json (`--trace 0`) or every
`per_layer` metric (`--trace 1`, a separate traced run). The line before it
is the detailed report: per metric its median, spread (interquartile range
over median) and sample count, every named check, the seed, the core count,
the heap and the source digest. A traced run also writes its spans as JSON
lines to `.bench_build/spans/<workload>-<seed>.jsonl`.

Environment: SPARK_GRAFT_CPUS (cores for local[N] and the shuffle
partition count; default: the CPUs this process may run on) and
SPARK_DRIVER_MEM (JVM heap; default 3g). All scratch state lives in a fresh
directory under .bench_build/runs/, deleted when the run ends.

Class-data archive: the first run of a workload after a build dumps the
classes its JVM loaded into a class-data archive when it exits (JDK
AppCDS; `.bench_build/cds/<workload>-<digest>.jsa`, about 20 s after its
result), and the later runs of that workload map it, so parsing and
verifying the classes of Spark and the engine stay out of the measured
phases; JIT compilation, code generation and artifact builds stay in.
If a dump fails, the later runs go on without an archive.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("drift_pipeline", "ingest_door")
# Inputs: lineitem = 6e6 * SF rows; documents and embeddings as counted.
SF, DOCS, EMBS = 0.001, 500, 500
CHILD_TIMEOUT_S = 165
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def summarize(values):
    med = statistics.median(values)
    if len(values) >= 2 and med:
        q = statistics.quantiles(values, n=4)
        spread = (q[2] - q[0]) / abs(med)
    else:
        spread = 0.0
    return med, spread


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_child(cmd, deadline):
    """Runs the JVM in its own process group; kills the group on timeout,
    returning exit code None."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        print(f"perfbench: harness exceeded {deadline} s", file=sys.stderr)
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def launch(jar, jars, workload, seed, seconds, trace, jvm_flags, deadline):
    """One harness JVM over freshly generated inputs in a scratch root that
    is deleted afterwards; returns (exit code, stdout)."""
    os.makedirs(os.path.join(build.OUT, "runs"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(build.OUT, "runs"))
    try:
        data = os.path.join(scratch, "data")
        gen.generate(data, seed, SF, DOCS, EMBS)
        os.makedirs(os.path.join(scratch, "tmp"))
        spans = os.path.join(build.OUT, "spans", f"{workload}-{seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
        cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + jvm_flags
               + [f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
                  "-cp", f"{jar}:{jars}/*", "perfbench.Main",
                  "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", str(trace), "--data", data, "--root", scratch, "--docs", str(DOCS),
                  "--cpus", str(cores()), "--spans", spans])
        return run_child(cmd, deadline)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def archive(sha, workload):
    """JVM flags for the workload's class-data archive of this build: map it
    if it was made, else dump it at exit (unless a dump already failed).
    Returns (flags, path of the dump in progress or None)."""
    cds = os.path.join(build.OUT, "cds")
    path = os.path.join(cds, f"{workload}-{sha[:16]}.jsa")
    if os.path.isfile(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    if os.path.isfile(path + ".failed"):
        return [], None
    os.makedirs(cds, exist_ok=True)
    for old in os.listdir(cds):  # archives of earlier builds
        if old.startswith(f"{workload}-"):
            os.remove(os.path.join(cds, old))
    return [f"-XX:ArchiveClassesAtExit={path}.tmp"], path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # SIGTERM unwinds through launch's finally, which removes the scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jar, jars, sha = build.build()
    flags, dumping = archive(sha, a.workload)
    code, out = launch(jar, jars, a.workload, a.seed, a.seconds, a.trace, flags,
                       CHILD_TIMEOUT_S)
    n, heap = cores(), os.environ.get("SPARK_DRIVER_MEM", "3g")
    if dumping:
        if code == 0 and os.path.isfile(dumping + ".tmp"):
            os.replace(dumping + ".tmp", dumping)
        else:
            print(f"perfbench: no class-data archive made (exit {code}); "
                  "later runs go on without one", file=sys.stderr)
            open(dumping + ".failed", "w").close()

    line = next((ln[len("PERFBENCH "):] for ln in reversed(out.splitlines())
                 if ln.startswith("PERFBENCH ")), None)
    # the result is printed before the JVM exits; a failed dump at exit
    # does not void it
    if line is None or (code != 0 and not dumping):
        raise SystemExit(f"perfbench: harness exited {code} without a result")
    res = json.loads(line)
    metrics, report, missing = {}, {}, []
    for m in wanted:
        vals = [v for v in res["samples"].get(m["name"], []) if v is not None]
        if not vals or not all(math.isfinite(v) for v in vals):
            missing.append(m["name"])
            continue
        med, spread = summarize(vals)
        metrics[m["name"]] = {"value": med, "unit": m["unit"]}
        report[m["name"]] = {"median": med, "unit": m["unit"], "spread": spread,
                             "n": len(vals), "better": m["better"]}
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
        raise SystemExit(1)
    # samples reported but not in BENCHMARK.json (the untraced warm_s)
    unbounded = {}
    for k, vals in res["samples"].items():
        vals = [v for v in vals if v is not None]
        if k not in metrics and vals and not a.trace:
            med, spread = summarize(vals)
            unbounded[k] = {"median": med, "spread": spread, "n": len(vals)}
    failed_checks = sorted({c["name"] for c in res["checks"] if not c["ok"]})
    correct = res["failed"] == 0 and not failed_checks
    # tracing overhead: this traced run's op walls against the untraced
    # run of the same workload and seed, when one was made in this checkout
    saved = os.path.join(build.OUT, "results", f"{a.workload}-{a.seed}.json")
    overhead = None
    walls = {k: summarize(res["samples"][k])[0] for k in ("cold_s", "warm_s")
             if res["samples"].get(k)}
    if not a.trace:
        os.makedirs(os.path.dirname(saved), exist_ok=True)
        with open(saved, "w") as f:
            json.dump(walls, f)
    elif os.path.isfile(saved):
        untraced = json.load(open(saved))
        overhead = {k: walls[k] - untraced[k] for k in walls if k in untraced}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": n, "heap": heap, "commit": commit(), "source_sha256": sha,
        "inputs": {"sf": SF, "documents": DOCS, "embeddings": EMBS},
        "class_data_archive": "dump" if dumping else ("map" if flags else None),
        "metrics": report, "unbounded": unbounded, "failed_checks": failed_checks,
        "checks_run": len(res["checks"]), "failed_share": res["failed"] / max(res["attempted"], 1),
        "trace_overhead_s": overhead,
        "info": res["info"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
