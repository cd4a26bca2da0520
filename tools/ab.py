#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark over two checkouts.

    python3 tools/ab.py --a ../parent --b . --workload etl_fanin --pairs 5

Each pair runs `perfbench/run.py` once in each checkout with the same seed
(pair i uses seed --seed + i), A first in even pairs and B first in odd
ones, so drift on the machine falls on both sides. Runs go one at a time.
Every run keeps its work directory long enough to read the run document
(`raw.json`), then deletes it.

Prints, per pair, the three end-to-end metrics of both sides and their
difference (B - A), then per metric the number of pairs where B is lower
and the medians. For etl_fanin it prints each operation's median wall time
(`passes[].op_ms`: the 13 fan-in pipelines, then the four curation stages).
For view_serve it prints each run's round count and flags the pairs whose
counts differ: a run that fits one more round in its --seconds reads a
lower `pass_cpu_s` on identical code, so compare only pairs with equal
counts. Exits 1 if any run fails its output checks.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

METRICS = ("setup_s", "pass_cpu_s", "heap_live_peak_mb")
ETL_OPS = ("world_bank_wdi", "world_bank_api", "who_gho_api", "unstats_sdg_api",
           "unstats_sdg_database", "unicef_sdmx_api", "ilo_sdmx_api",
           "imf_datamapper_api", "sipri_milex", "unaids_kpatlas", "healthdata_ghdx",
           "energydata_info", "tpch_shipments",
           "dedup_index+cc", "stream", "logit", "kmeans")


def run_once(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`: (end-to-end metrics, correct, run document)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--keep"]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    out, err = proc.communicate()
    work = os.path.join(checkout, ".bench_build", "work", f"{workload}-{seed}-{proc.pid}")
    try:
        lines = [l for l in out.splitlines() if l.strip()]
        if not lines:
            sys.stderr.write(err[-4000:])
            raise SystemExit(f"ab: no result from {checkout} (seed {seed})")
        result = json.loads(lines[-1])
        with open(os.path.join(work, "raw.json")) as f:
            doc = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return metrics, result["correct"], doc


def op_medians(doc):
    """Median wall ms of each operation index over the run's passes."""
    per_op = {}
    for p in doc["passes"]:
        for i, ms in enumerate(p["op_ms"]):
            per_op.setdefault(i, []).append(ms)
    return {i: statistics.median(v) for i, v in per_op.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="checkout A (the baseline)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--workload", required=True, choices=("view_serve", "etl_fanin"))
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--json", help="also write every run's figures to this file")
    args = ap.parse_args(argv)

    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    runs = []  # one dict per pair: side -> (metrics, correct, rounds, op medians)
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        pair = {}
        for side in order:
            m, ok, doc = run_once(sides[side], args.workload, seed, args.seconds)
            pair[side] = {"metrics": m, "correct": ok, "rounds": len(doc["passes"]),
                          "op_ms": op_medians(doc)}
        runs.append(pair)
        a, b = pair["A"], pair["B"]
        cells = "  ".join(f"{k} {a['metrics'][k]:.3f}->{b['metrics'][k]:.3f} "
                          f"({b['metrics'][k] - a['metrics'][k]:+.3f})" for k in METRICS)
        note = ""
        if args.workload == "view_serve":
            note = f"  rounds {a['rounds']}/{b['rounds']}"
            if a["rounds"] != b["rounds"]:
                note += " ROUNDS DIFFER"
        if not (a["correct"] and b["correct"]):
            note += "  CHECK FAILED"
        print(f"pair {i + 1} seed {seed} ({order[0]} first): {cells}{note}", flush=True)

    print(f"\n{args.workload}, {len(runs)} pairs (B - A):")
    for k in METRICS:
        deltas = [p["B"]["metrics"][k] - p["A"]["metrics"][k] for p in runs]
        lower = sum(1 for d in deltas if d < 0)
        print(f"  {k}: B lower in {lower}/{len(deltas)}; median A "
              f"{statistics.median(p['A']['metrics'][k] for p in runs):.3f}, median B "
              f"{statistics.median(p['B']['metrics'][k] for p in runs):.3f}, median pair "
              f"{statistics.median(deltas):+.3f}, pairs "
              + " ".join(f"{d:+.2f}" for d in deltas))
    if args.workload == "view_serve":
        equal = [p for p in runs if p["A"]["rounds"] == p["B"]["rounds"]]
        print(f"  rounds equal in {len(equal)}/{len(runs)} pairs")
        if equal:
            deltas = [p["B"]["metrics"]["pass_cpu_s"] - p["A"]["metrics"]["pass_cpu_s"]
                      for p in equal]
            print(f"  pass_cpu_s over equal-round pairs: B lower in "
                  f"{sum(1 for d in deltas if d < 0)}/{len(deltas)}, median pair "
                  f"{statistics.median(deltas):+.3f}")
    else:
        print("  op wall ms, median over pairs (A -> B):")
        for i, name in enumerate(ETL_OPS):
            a = [p["A"]["op_ms"][i] for p in runs if i in p["A"]["op_ms"]]
            b = [p["B"]["op_ms"][i] for p in runs if i in p["B"]["op_ms"]]
            if a and b:
                print(f"    {name:22s} {statistics.median(a):9.0f} -> "
                      f"{statistics.median(b):9.0f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "pairs": runs}, f, indent=1)
    failed = any(not s["correct"] for p in runs for s in p.values())
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
