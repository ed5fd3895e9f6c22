"""Which top-level classes of the engine no root reaches, read from bytecode.

Builds (or reuses) `.bench_build/engine.jar` with `perfbench/build.py`,
runs `jdeps -verbose:class` over it and walks the class graph from ROOTS.
Nested, companion and synthetic classes (`A$B`, `A$`, `A$$anonfun...`)
count as their top-level class `A`. Prints each unreached top-level class,
with its reason when KEPT lists it.

Exits 1 when a class is unreached and not in KEPT, or when a KEPT entry is
reached or gone (the entry is stale); else 0.

Usage: python3 tools/reachability.py   (from the repository root)
"""
import os
import re
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOTS = [
    "graft.Bench",
    "graft.Verify",
    "graft.ScaleCorpus",
    "perfbench.Main",
    "graft.streaming.FrontDoor",
    "graft.streaming.ShardedDoor",
    # The streaming form of the paper's experiment: ROADMAP item 3's
    # drift_stream workload runs these (PrequentialNB lives in StreamOps).
    "graft.streaming.DdmStream",
    "graft.streaming.StreamOps",
]

# Unreached on purpose: each is kept with the tier-1 tests that exercise it
# until a change retires those tests (ROADMAP item 5).
KEPT = {
    "graft.streaming.BudgetGate": "StreamingSpec budget-gate and front-door-chain tests",
    "graft.streaming.ModelRefit": "StreamingSpec refit-hook tests, ForgetSpec learned-artifact test",
    "graft.streaming.StreamingQuantiles": "StreamingSpec streaming-quantiles test",
    "graft.streaming.StreamingHll": "StreamingSpec streaming-HLL test",
    "graft.ml.ModelIO": "MLTrainerSpec S6 tests",
    "graft.report.Plot": "ReportSpec PNG tests",
}


def engine_jar():
    sys.dont_write_bytecode = True  # leave nothing under perfbench/
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import build
    jar, jars, _ = build.build()
    return jar, jars


def top(name):
    return name.split("$", 1)[0]


def main():
    jar, jars = engine_jar()
    classes = {top(n[:-len(".class")].replace("/", "."))
               for n in zipfile.ZipFile(jar).namelist()
               if n.endswith(".class")}
    out = subprocess.run(
        ["jdeps", "--multi-release", "17", "-filter:none", "-verbose:class",
         "-cp", os.path.join(jars, "*"), jar],
        capture_output=True, text=True, check=True).stdout
    edges = {}
    for line in out.splitlines():
        m = re.match(r"\s+(\S+)\s+->\s+(\S+)\s", line)
        if m:
            a, b = top(m.group(1)), top(m.group(2))
            if a in classes and b in classes and a != b:
                edges.setdefault(a, set()).add(b)
    missing = [r for r in ROOTS if r not in classes]
    if missing:
        raise SystemExit(f"reachability: roots not in {jar}: {', '.join(missing)}")
    seen, stack = set(), list(ROOTS)
    while stack:
        c = stack.pop()
        if c not in seen:
            seen.add(c)
            stack.extend(edges.get(c, ()))
    unreached = sorted(classes - seen)
    bad = 0
    for c in unreached:
        if c in KEPT:
            print(f"unreached, kept: {c}  ({KEPT[c]})")
        else:
            print(f"unreached: {c}")
            bad += 1
    for c in sorted(set(KEPT) - set(unreached)):
        print(f"stale KEPT entry: {c} is {'reached' if c in classes else 'gone'}")
        bad += 1
    print(f"{len(classes)} top-level classes, {len(seen)} reached from "
          f"{len(ROOTS)} roots, {len(unreached)} unreached", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
