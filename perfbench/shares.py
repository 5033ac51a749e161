#!/usr/bin/env python3
"""Per-query profile of a workload's full query list, the figures its
timed subset is picked from.

Usage (from the repository root):
  python3 perfbench/shares.py --workload eager [--seed 1]

Runs every query of the workload's `full` list in one traced run (a cold
pass, warm-up passes, then traced and plain steady passes) and prints,
per query: cold latency; median steady build, plan and execute time over
the plain steady passes; and, from the traced passes, the Spark jobs
launched inside the build call and the time the build waited on them.
Each cell also gives the query's share of the list's total.
"""
import argparse
import statistics
import sys

import run

COLUMNS = ("cold_s", "build_s", "plan_s", "execute_s", "build_jobs", "build_job_s")


def covered(iv, lo, hi) -> float:
    """Total length of the union of intervals, clipped to [lo, hi]."""
    total, cur = 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in iv):
        if e <= s:
            continue
        if cur and s <= cur[1]:
            cur[1] = max(cur[1], e)
        else:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [s, e]
    return total + (cur[1] - cur[0] if cur else 0.0)


def per_query(rec: dict) -> dict:
    """query -> {column: value} from one run record."""
    passes = rec["passes"]
    plain = [p for p in passes if p["steady"] and not p["traced"]]
    out = {}
    for t in passes[0]["queries"]:
        out[t["name"]] = {"cold_s": t["build"] + t["plan"] + t["execute"]}
    for k in ("build", "plan", "execute"):
        for q, row in out.items():
            row[f"{k}_s"] = statistics.median(
                t[k] for p in plain for t in p["queries"] if t["name"] == q)
    spans = rec["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    traced = [s for s in spans if s["name"].startswith("pass:")
              and any(p["traced"] and s["name"] == f"pass:{p['index']}" for p in passes)]
    jobs = {q: [] for q in out}
    for p in traced:
        for qs in kids.get(p["id"], []):
            q = qs["name"][len("query:"):]
            for b in (s for s in kids.get(qs["id"], []) if s["name"] == "build"):
                js = [j for j in kids.get(b["id"], []) if j["name"].startswith("job:")]
                jobs[q].append((len(js), covered([(j["start"], j["end"]) for j in js],
                                                 b["start"], b["end"])))
    for q, row in out.items():
        row["build_jobs"] = statistics.median(n for n, _ in jobs[q]) if jobs[q] else 0
        row["build_job_s"] = statistics.median(s for _, s in jobs[q]) if jobs[q] else 0.0
    return out


def show(rows: dict, out=sys.stdout) -> None:
    totals = {c: sum(r[c] for r in rows.values()) for c in COLUMNS}
    print(f"{'query':30s}" + "".join(f"{c:>20s}" for c in COLUMNS), file=out)
    order = sorted(rows, key=lambda q: -rows[q]["build_s"] - rows[q]["plan_s"]
                   - rows[q]["execute_s"])
    for q in order + ["total"]:
        r = totals if q == "total" else rows[q]
        cells = [f"{r[c]:9.3f} {r[c] / totals[c] if totals[c] else 0:8.0%}" for c in COLUMNS]
        print(f"{q:30s}" + "".join(f"{x:>20s}" for x in cells), file=out)


def main() -> int:
    ap = argparse.ArgumentParser(description="Per-query profile of a workload's full list.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    w = run.load_workloads()[a.workload]
    rec = run.harness("run", {
        "data": run.data_dir(w["scale"]), "queries": ",".join(w["full"]),
        "seed": a.seed, "seconds": 1, "trace": 1,
        "expected": run.expected_file(w["scale"]),
    }, f"shares-{a.workload}", timeout=1800)
    for f in rec["failures"]:
        print(f"[shares] FAILED {f['query']}: {f['error']}", file=sys.stderr)
    show(per_query(rec))
    return 1 if rec["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
