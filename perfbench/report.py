#!/usr/bin/env python3
"""Reports over saved benchmark results (the records run.py writes to
<build>/results/, one JSON file per run).

  python3 perfbench/report.py repeats [DIR]
      For each group of runs with the same code, workload, seed and trace
      flag, list the counted metrics that repeated exactly and those that
      did not. Only exact repeaters may back a count-based claim.

  python3 perfbench/report.py compare OLD_DIR NEW_DIR
      Per workload: counted-metric deltas and per-query plan-fingerprint
      changes first, then for each end-to-end metric each side's median
      and quartiles and the share of pairs each side won.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

import run


def load(d) -> list:
    return [json.loads(p.read_text()) for p in sorted(Path(d).glob("*.json"))]


def counts(rec: dict) -> dict:
    """Every counted quantity of one run, by name."""
    out = {"attempted": rec["attempted"], "failed": len(rec["failures"])}
    for k, m in rec["metrics"].items():
        if m["unit"] == "count":
            out[k] = m["value"]
    for q, o in rec["observed"].items():
        out[f"rows:{q}"] = o["rows"]
        out[f"digest:{q}"] = o["digest"]
        out[f"fingerprint:{q}"] = o["fingerprint"]
    for q, s in rec["shapes"].items():
        for k, v in s.items():
            out[f"plan.{k}:{q}"] = v
    return out


def repeats(recs: list) -> dict:
    """(workload, seed, traced, stamp) -> {"exact": [...], "varies": {name: values}}."""
    groups = defaultdict(list)
    for r in recs:
        p = r["provenance"]
        groups[(p["workload"], p["seed"], p["traced"], p["source_stamp"])].append(counts(r))
    out = {}
    for key, cs in groups.items():
        if len(cs) < 2:
            continue
        names = sorted(set().union(*cs))
        vals = {n: [c.get(n) for c in cs] for n in names}
        out[key] = {"runs": len(cs),
                    "exact": [n for n in names if len(set(map(str, vals[n]))) == 1],
                    "varies": {n: v for n, v in vals.items() if len(set(map(str, v))) > 1}}
    return out


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pair_runs(old: list, new: list) -> list:
    """(old, new) run pairs: by seed where both sides have it, else by
    position."""
    def by_seed(rs):
        return {r["provenance"]["seed"]: r for r in rs}
    o, n = by_seed(old), by_seed(new)
    seeds = sorted(set(o) & set(n))
    return [(o[s], n[s]) for s in seeds] or list(zip(old, new))


def e2e(recs: list, metric: str) -> list:
    return [r["metrics"][metric]["value"] for r in recs if metric in r["metrics"]]


def compare(old: list, new: list, out=sys.stdout) -> None:
    def by_workload(rs):
        d = defaultdict(lambda: {"plain": [], "traced": []})
        for r in rs:
            d[r["provenance"]["workload"]]["traced" if r["provenance"]["traced"] else "plain"].append(r)
        return d
    o, n = by_workload(old), by_workload(new)
    for w in sorted(set(o) & set(n)):
        print(f"== {w}: {len(o[w]['plain'])}+{len(o[w]['traced'])} old runs, "
              f"{len(n[w]['plain'])}+{len(n[w]['traced'])} new runs (plain+traced)", file=out)
        co = [counts(r) for r in o[w]["plain"] + o[w]["traced"]]
        cn = [counts(r) for r in n[w]["plain"] + n[w]["traced"]]
        print("-- counted metrics that changed (old median -> new median)", file=out)
        for k in sorted(set().union(*co, *cn)):
            if k.startswith(("digest:", "fingerprint:")):
                continue
            a = [c[k] for c in co if k in c]
            b = [c[k] for c in cn if k in c]
            if a and b and statistics.median(a) != statistics.median(b):
                print(f"   {k:40s} {statistics.median(a):>14g} -> {statistics.median(b):g}",
                      file=out)
        print("-- plan fingerprint changes", file=out)
        for k in sorted(set().union(*co, *cn)):
            if k.startswith("fingerprint:"):
                a = sorted({c[k] for c in co if k in c})
                b = sorted({c[k] for c in cn if k in c})
                if a != b:
                    print(f"   {k[len('fingerprint:'):]:40s} {','.join(a)} -> {','.join(b)}",
                          file=out)
        print("-- end-to-end (median [q1, q3]; share of pairs won)", file=out)
        pairs = pair_runs(o[w]["plain"], n[w]["plain"])
        for m in run.END_TO_END:
            a, b = e2e(o[w]["plain"], m), e2e(n[w]["plain"], m)
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            pv = [(x["metrics"][m]["value"], y["metrics"][m]["value"]) for x, y in pairs]
            ow = sum(x < y for x, y in pv) / len(pv) if pv else 0.0
            nw = sum(y < x for x, y in pv) / len(pv) if pv else 0.0
            print(f"   {m:14s} old {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"new {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
                  f"won old {ow:.0%} new {nw:.0%} of {len(pv)} pairs", file=out)


def main(argv) -> int:
    if len(argv) >= 1 and argv[0] == "repeats":
        recs = load(argv[1] if len(argv) > 1 else run.out_dir() / "results")
        for (w, seed, traced, stamp), r in sorted(repeats(recs).items(), key=str):
            print(f"== {w} seed {seed} traced={traced} code {stamp}: {r['runs']} runs")
            print(f"   exact ({len(r['exact'])}): " + ", ".join(r["exact"]))
            for k, v in r["varies"].items():
                print(f"   varies: {k} {v}")
        return 0
    if len(argv) == 3 and argv[0] == "compare":
        compare(load(argv[1]), load(argv[2]))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
