"""Unit tests of the result reports (no JVM needed).

Run from the repository root: python3 -m pytest perfbench/tests/test_report.py
"""
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import report  # noqa: E402


def record(workload="eager", seed=1, traced=False, stamp="abc", wall=2.0,
           jobs=10.0, rows=5, fingerprint="f1"):
    metrics = {m: {"value": wall, "unit": u} for m, u in report.run.END_TO_END.items()}
    if traced:
        metrics = {"exec.jobs": {"value": jobs, "unit": "count"},
                   "exec.execute_s": {"value": wall, "unit": "s"}}
    return {
        "provenance": {"workload": workload, "seed": seed, "traced": traced,
                       "source_stamp": stamp},
        "attempted": 14, "failures": [], "metrics": metrics,
        "observed": {"q_topk": {"rows": rows, "digest": "d", "fingerprint": fingerprint}},
        "shapes": {"q_topk": {"nodes": 5, "joins": 0, "exchanges": 1}},
    }


def test_repeats_split_exact_from_varying_counts():
    recs = [record(traced=True, jobs=10), record(traced=True, jobs=12, wall=3.0)]
    (key, r), = report.repeats(recs).items()
    assert key == ("eager", 1, True, "abc")
    assert r["runs"] == 2
    assert "exec.jobs" in r["varies"]
    assert "rows:q_topk" in r["exact"] and "plan.exchanges:q_topk" in r["exact"]
    # a time is never a counted metric
    assert "exec.execute_s" not in r["exact"] and "exec.execute_s" not in r["varies"]


def test_repeats_keep_code_versions_and_seeds_apart():
    recs = [record(seed=1), record(seed=2), record(seed=1, stamp="def")]
    assert report.repeats(recs) == {}


def test_quartiles_match_statistics_quantiles():
    q1, med, q3 = report.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, med, q3) == (1.5, 3.0, 4.5)


def test_compare_prints_counts_and_plan_changes_before_wall_time():
    old = [record(seed=s, wall=2.0) for s in (1, 2, 3)] + [record(traced=True, jobs=10)]
    new = [record(seed=s, wall=1.5, fingerprint="f2") for s in (1, 2, 3)] + \
        [record(traced=True, jobs=8, fingerprint="f2")]
    out = io.StringIO()
    report.compare(old, new, out)
    text = out.getvalue()
    assert text.index("exec.jobs") < text.index("q_topk") < text.index("wall_s")
    assert "f1 -> f2" in text
    assert "won old 0% new 100% of 3 pairs" in text


def test_shares_split_steady_time_and_build_jobs_per_query():
    import shares

    def q(name, b, p, x):
        return {"name": name, "build": b, "plan": p, "execute": x, "verify": 0.0}
    def p(index, steady, traced, queries):
        return {"index": index, "steady": steady, "traced": traced, "queries": queries}
    passes = [p(0, False, False, [q("a", 3, 1, 2), q("b", 1, 0, 1)]),
              p(1, False, False, [q("a", 1, 1, 0), q("b", 1, 0, 0)]),
              p(2, True, True, [q("a", 9, 9, 9), q("b", 9, 9, 9)]),
              p(3, True, False, [q("a", 2, 0.5, 1), q("b", 1, 0, 1)])]
    spans = [{"id": 0, "parent": -1, "name": "run", "start": 0, "end": 99},
             {"id": 1, "parent": 0, "name": "pass:2", "start": 0, "end": 20},
             {"id": 2, "parent": 1, "name": "query:a", "start": 0, "end": 10},
             {"id": 3, "parent": 2, "name": "build", "start": 0, "end": 4},
             # two overlapping jobs inside the build: 3 s of waiting, not 4
             {"id": 4, "parent": 3, "name": "job:1", "start": 0.5, "end": 2.5},
             {"id": 5, "parent": 3, "name": "job:2", "start": 1.5, "end": 3.5},
             {"id": 6, "parent": 4, "name": "stage:1", "start": 0.5, "end": 2.5},
             {"id": 7, "parent": 1, "name": "query:b", "start": 10, "end": 20},
             {"id": 8, "parent": 7, "name": "build", "start": 10, "end": 11}]
    rows = shares.per_query({"passes": passes, "spans": spans})
    assert rows["a"] == {"cold_s": 6, "build_s": 2, "plan_s": 0.5, "execute_s": 1,
                         "build_jobs": 2, "build_job_s": 3.0}
    assert rows["b"]["build_jobs"] == 0 and rows["b"]["build_job_s"] == 0.0
