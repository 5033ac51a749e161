#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload eager --seed 1 --seconds 16 --trace 0

Builds graft and the harness if needed (perfbench/build.py), runs the
workload's contract queries in one fresh JVM -- set-up, one cold pass,
then steady passes for --seconds -- checks every output against
perfbench/expected/, and prints as its last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record of the run (provenance, per-query times,
digests, plan fingerprints, spans) goes to <build>/results/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "sinks.bytes_per_row":
        return "B/row"
    if name in ("exec.core_util", "exec.task_skew", "trace.overhead_frac"):
        return "ratio"
    return "count"


PER_LAYER = [
    "setup.session_s", "setup.tables_s", "cold_wall_s",
    "queries.build_s", "queries.build_jobs", "queries.build_job_s",
    "queries.build_driver_s", "queries.build_task_cpu_s",
    "plans.plan_s", "plans.nodes", "plans.joins", "plans.exchanges",
    "exec.execute_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
    "exec.core_util", "exec.task_wait_s", "exec.task_skew", "exec.shuffle_write_mb",
    "exec.shuffle_records", "exec.spill_mb", "exec.gc_s", "exec.failed_tasks",
    "sources.scan_rows", "sources.scan_tasks",
    "sinks.write_rows", "sinks.write_mb", "sinks.bytes_per_row",
    "jvm.jit_s", "jvm.gc_s", "jvm.heap_peak_mb",
    "harness.overhead_s", "trace.overhead_frac",
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks():
    """(stolen, total) CPU ticks of the whole machine so far, or None where
    /proc/stat is missing. Stolen ticks are time the hypervisor ran
    something else while this machine had work."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def load_workloads() -> dict:
    return json.loads((HERE / "workloads.json").read_text())


def data_dir(scale: str) -> Path:
    """The workload's input tables, checked against their stored hashes."""
    d = HERE / "data" / scale
    sums = d / "SHA256SUMS"
    if not sums.is_file():
        raise BenchError(f"no input tables at {d}")
    for line in sums.read_text().split("\n"):
        if not line.strip():
            continue
        digest, name = line.split()
        got = hashlib.sha256((d / name).read_bytes()).hexdigest()
        if got != digest:
            raise BenchError(f"input table {name} does not match SHA256SUMS")
    return d


def out_dir() -> Path:
    return build.default_out(ROOT)


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def run_jvm(main: str, prog_args: list, tag: str, result: bool = True,
            timeout: float = JVM_TIMEOUT_S):
    """Run `main` in a fresh JVM with its own tmp and Spark local dirs, which
    are removed only after the JVM has exited. With `result`, the program is
    passed --out and --run-dir and its JSON output is returned."""
    classes = build.ensure(ROOT, out_dir())
    jars = build.spark_jars(ROOT)
    run_dir = out_dir() / "runs" / f"{tag}-{os.getpid()}-{time.time_ns()}"
    tmp, local, wh = run_dir / "tmp", run_dir / "spark-local", run_dir / "warehouse"
    for d in (tmp, local):
        d.mkdir(parents=True)
    out = run_dir / "result.json"
    argv = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", f"-Dspark.sql.warehouse.dir={wh}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        argv += ["--add-opens", f"{p}=ALL-UNNAMED"]
    argv += ["-cp", f"{classes}:{jars}/*", main] + [str(a) for a in prog_args]
    if result:
        argv += ["--out", str(out), "--run-dir", str(run_dir)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local), SPARK_GRAFT_CPUS=str(cores()))
    log = run_dir / "stderr.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(argv, cwd=run_dir, env=env, stdout=err, stderr=err,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=timeout)
            except BaseException as e:
                # timeout, Ctrl-C or SIGTERM: the JVM must not outlive us
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    raise BenchError(f"{main} exceeded {timeout:.0f} s")
                raise
        if code != 0 or (result and not out.is_file()):
            tail = log.read_text(errors="replace").splitlines()[-40:]
            raise BenchError(f"{main} exited with {code}:\n" + "\n".join(tail))
        return json.loads(out.read_text()) if result else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def harness(mode: str, args: dict, tag: str, timeout: float = JVM_TIMEOUT_S) -> dict:
    """Run one mode of the benchmark's own harness (perfbench/scala)."""
    argv = [mode]
    for k, v in dict(args, cores=cores()).items():
        argv += [f"--{k}", v]
    return run_jvm("graftbench.Main", argv, tag, timeout=timeout)


def expected_file(scale: str) -> Path:
    return HERE / "expected" / f"{scale}.tsv"


def provenance(res: dict, workload: str, scale: str, args, ticks) -> dict:
    p = dict(res["provenance"])
    if ticks[0] and ticks[1] and ticks[1][1] > ticks[0][1]:
        p["host_steal_frac"] = (ticks[1][0] - ticks[0][0]) / (ticks[1][1] - ticks[0][1])
    p.update({
        "workload": workload, "scale_factor": scale, "seed": args.seed,
        "seconds": args.seconds, "traced": bool(args.trace),
        "host_cores": cores(),
        "host_memory_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
        "host": platform.platform(), "python": platform.python_version(),
        "git_commit": git_commit(),
        "source_stamp": build.stamp(sum(build.sources(ROOT), []))[:16],
    })
    return p


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, on_sigterm)
    ap = argparse.ArgumentParser(description="Run one graft benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        workloads = {k: w for k, w in load_workloads().items() if "queries" in w}
        if args.workload not in workloads:
            raise BenchError(f"unknown workload {args.workload}; have {sorted(workloads)}")
        w = workloads[args.workload]
        scale = w["scale"]
        data = data_dir(scale)
        t0 = cpu_ticks()
        res = harness("run", {
            "data": data, "queries": ",".join(w["queries"]),
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "expected": expected_file(scale),
        }, args.workload)
        ticks = (t0, cpu_ticks())
    except (BenchError, build.BuildError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 2

    failures = res["failures"]
    for f in failures:
        print(f"[graftbench] FAILED {f['query']}: {f['error']}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    prov = provenance(res, args.workload, scale, args, ticks)
    record = dict(res, provenance=prov, metrics=metrics)
    results = out_dir() / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    (results / name).write_text(json.dumps(record))
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": len(failures), "metrics": metrics}))
    if failures:
        print(f"[graftbench] CORRECTNESS CHECK FAILED: {len(failures)} of "
              f"{res['attempted']} query runs", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
