#!/usr/bin/env python3
"""Per-FAMILY perf budgets over a Bench snapshot (r15 verdict #8).

The 2x-vs-baseline gate is total-only, so a single-family regression can
hide inside a green total (a 3x dedup slowdown offset by fast relational
queries). This check groups the per-query times of a Bench JSON into
families and compares each family's sum against the committed budget
table (BUDGETS.json, derived from the r15 committed sf0.1 window) with a
host-jitter tolerance.

Usage:
  python3 tools/bench_budgets.py <bench.json> [tolerance]
  python3 tools/bench_budgets.py --rebase <bench.json>   # rewrite BUDGETS.json

Tolerance default 1.5: BENCH_ab.json measured same-box window jitter at
11.6% on totals with per-query p90 32.7%; family sums sit between, and
1.5x keeps the check quiet across host windows while a real 2x+ family
regression still trips it. Budgets only apply to snapshots at the budget
table's sf (the driver's sf0.1 runs); pass a different sf and the script
refuses rather than comparing apples to melons. Exit 1 on any family
over budget — INCLUDING families with no budget row: an unknown-prefix
query gets the tolerance headroom of an average budgeted family
((tol - 1) x total / n_families) and trips the gate past it, so new
surface cannot silently ride outside the check until the next rebase.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUDGETS = os.path.join(HERE, "..", "BUDGETS.json")

# Prefix rules, first match wins — every query of the declared surface
# lands in exactly one family.
FAMILY_RULES = [
    ("mm", ["mm_"]),
    ("sim", ["sim_"]),
    ("dedup", ["dedup_", "decontam_", "chunk_dedup"]),
    ("stores", ["text_bm25", "lm_fluency", "bpe_", "pack_", "export_",
                "gate_admission", "layout_zorder", "bucketed_join",
                "store_fsck"]),
    ("ml", ["ml_", "adapt_", "drift_", "st2_", "m7_", "w2v_",
            "a4_", "a5_", "a9_", "j3_", "q_report_"]),
    ("corpus", ["corpus_", "mix_", "quality_", "text_", "sketch_",
                "dsir_", "sample_", "pipeline_", "chunk_", "p1_", "p2_",
                "p3_", "p5_", "p6_", "p7_", "a1_", "a2_", "j1_", "j2_",
                "table_stats"]),
    ("relational", ["q", "skew_"]),
]


def family_of(q):
    for fam, prefixes in FAMILY_RULES:
        if any(q.startswith(p) for p in prefixes):
            return fam
    return "other"


def family_sums(bench):
    sums = {}
    for q, t in bench["queries"].items():
        sums.setdefault(family_of(q), {"sec": 0.0, "n": 0})
        sums[family_of(q)]["sec"] += t
        sums[family_of(q)]["n"] += 1
    return sums


def main():
    args = [a for a in sys.argv[1:] if a != "--rebase"]
    rebase = "--rebase" in sys.argv
    bench_f = args[0]
    tol = float(args[1]) if len(args) > 1 else 1.5
    bench = json.load(open(bench_f))
    sums = family_sums(bench)

    if rebase:
        table = {
            "sf": bench.get("sf", ""),
            "source": bench_f,
            "total_sec": round(sum(v["sec"] for v in sums.values()), 3),
            "families": {f: {"budget_sec": round(v["sec"], 3),
                             "queries": v["n"]}
                         for f, v in sorted(sums.items())},
        }
        json.dump(table, open(BUDGETS, "w"), indent=2)
        print(f"rebased {BUDGETS} from {bench_f}")
        return 0

    table = json.load(open(BUDGETS))
    if os.path.basename(str(bench.get("sf", ""))) != \
       os.path.basename(str(table.get("sf", ""))):
        print(f"refusing: snapshot sf={bench.get('sf')} vs budget table "
              f"sf={table.get('sf')} — budgets only compare like-for-like")
        return 2
    over = []
    print(f"{'family':12s} {'budget':>8s} {'actual':>8s} {'ratio':>6s} "
          f"{'bound':>6s}  flag")
    for fam, b in sorted(table["families"].items()):
        actual = sums.get(fam, {"sec": 0.0})["sec"]
        ratio = actual / b["budget_sec"] if b["budget_sec"] else 0.0
        flag = ratio > tol
        if flag:
            over.append(fam)
        print(f"{fam:12s} {b['budget_sec']:8.2f} {actual:8.2f} "
              f"{ratio:6.2f} {tol:6.2f}  {'OVER' if flag else ''}")
    # Families in the snapshot with NO budget row (an "other"-bucket query
    # or a brand-new prefix) are a gate, not an FYI: a future expensive
    # query under an unknown prefix must not escape the hard check. Each
    # unbudgeted family gets the tolerance headroom of an AVERAGE budgeted
    # family — (tol - 1) x total / n_families — generous enough for a small
    # new query riding to the next rebase, hard against a regression-sized
    # one.
    table_total = sum(b["budget_sec"] for b in table["families"].values())
    allowance = (tol - 1.0) * table_total / max(1, len(table["families"]))
    extra = sorted(set(sums) - set(table["families"]))
    for fam in extra:
        actual = sums[fam]["sec"]
        flag = actual > allowance
        if flag:
            over.append(fam)
        print(f"{fam:12s} {'(none)':>8s} {actual:8.2f} {'':>6s} "
              f"{allowance:6.2f}s {'OVER (unbudgeted)' if flag else '(unbudgeted)'}")
    print(f"families over budget: {len(over)}"
          + (f" ({', '.join(over)})" if over else ""))
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
