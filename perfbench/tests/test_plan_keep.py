"""Plan-keep check over every query of the three workloads' full lists.

For each query, the optimized plan of the timed noop action must keep every
Join, Aggregate, Window and Generate node of the query's own optimized plan,
so the benchmark times the plan a caller gets rather than a pruned one.

Runs one JVM over the bundled tables (a few minutes on 4 cores):
  python3 -m pytest perfbench/tests/test_plan_keep.py
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402


def test_timed_action_keeps_every_join_aggregate_window_generate():
    checked = {}
    for scale in sorted({w["scale"] for w in run.load_workloads().values()}):
        names = sorted({q for w in run.load_workloads().values() if w["scale"] == scale
                        for q in w["full"]})
        checked.update(run.harness("plancheck", {"data": run.data_dir(scale),
                                                 "queries": ",".join(names)},
                                   "plancheck", timeout=1500))
    assert len(checked) == 80
    bad = {q: v for q, v in checked.items() if not v["ok"]}
    assert not bad, bad
    # the check has teeth: the queries do carry the node kinds it guards
    assert sum(v["own"].get("Join", 0) for v in checked.values()) > 50
