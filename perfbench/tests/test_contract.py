"""The benchmark refuses to run without graft's sources: in a directory that
holds only BENCHMARK.json and perfbench/ it exits non-zero, quickly, and
prints no result line.

Run from the repository root: python3 -m pytest perfbench/tests/test_contract.py
"""
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def test_bare_directory_fails_fast_without_a_result():
    bare = run.out_dir() / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(run.ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    cmd = json.loads((bare / "BENCHMARK.json").read_text())["command"]
    t = time.time()
    try:
        r = subprocess.run(cmd + ["--workload", "eager", "--seed", "1", "--seconds", "1",
                                  "--trace", "0"],
                           cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0
    assert time.time() - t < 180
    assert '"correct"' not in r.stdout
    assert "graft sources not found" in r.stderr
