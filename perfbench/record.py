#!/usr/bin/env python3
"""Record the stored output expectations of every workload query.

Usage (from the repository root):
  python3 perfbench/record.py [--scale sf0.01]

Runs graft's Verify dump for every query named in workloads.json (timed
and full lists) on the bundled tables, has tools/check.py compare the dump
with the DuckDB oracle, then digests each dump with the harness's own
canonical digest. The expectation of a query the oracle accepts is marked
`oracle`; a query without oracle SQL is pinned to its own output (`self`).
A query the oracle rejects gets no expectation, so the benchmark keeps
reporting it as failed. A query whose oracle SQL cannot run is pinned to
its own output and marked `self:oracle-error`; sim_mmr8's oracle needs
more than 12 GiB of DuckDB memory at sf0.01. Writes perfbench/expected/<scale>.tsv.
"""
import argparse
import re
import shutil
import subprocess
import sys

import run


def workload_queries(scale: str) -> list:
    return sorted({q for w in run.load_workloads().values() if w["scale"] == scale
                   for q in w["full"] + w.get("queries", [])})


def oracle_verdicts(data, dump) -> dict:
    """query -> 'oracle' | 'self' | the check.py failure line."""
    r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(data), str(dump)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(\S+)\s+(.*)$", line)
        if not m:
            continue
        name, rest = m.groups()
        if rest.startswith("OK ("):
            verdicts[name] = "oracle"
        elif rest.startswith("rows-only"):
            verdicts[name] = "self"
        elif rest.startswith("ORACLE SQL ERROR"):
            # the oracle could not run (e.g. DuckDB out of memory): nothing
            # contradicts the output, so it is pinned like a query without SQL
            verdicts[name] = "self:oracle-error"
        elif name not in verdicts and not name.startswith("WARNING"):
            verdicts[name] = rest
    return verdicts


def main() -> int:
    ap = argparse.ArgumentParser(description="Record stored output expectations.")
    ap.add_argument("--scale", default="sf0.01")
    a = ap.parse_args()
    data = run.data_dir(a.scale)
    names = workload_queries(a.scale)
    dump = run.out_dir() / "record" / a.scale
    shutil.rmtree(dump, ignore_errors=True)
    dump.mkdir(parents=True)
    run.run_jvm("graft.Verify", [data, dump, ",".join(names)], "record-verify",
                result=False, timeout=3600)
    verdicts = oracle_verdicts(data, dump)
    good = [q for q in names if verdicts.get(q, "").startswith(("oracle", "self"))]
    digests = run.harness("digest", {"data": data, "results": dump, "queries": ",".join(good)},
                          "record-digest", timeout=1800)
    lines = []
    for q in names:
        v = verdicts.get(q, "no result")
        if q in digests:
            lines.append(f"{q}\t{digests[q]['rows']}\t{digests[q]['digest']}\t{v}")
        else:
            print(f"[record] {q}: no expectation ({v})", file=sys.stderr)
    run.expected_file(a.scale).write_text("\n".join(lines) + "\n")
    print(f"[record] {len(lines)} of {len(names)} queries recorded "
          f"({sum(v == 'oracle' for v in verdicts.values())} against the oracle)")
    return 0 if len(lines) == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
