"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_corpus --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1]

Run from the repository root. A run:

1. generates the workload's input from ``--seed`` (cached per workload
   and seed under ``.perfbench/inputs``), outside the timed region;
2. starts one fresh child process per measured build
   (:mod:`perfbench.child`) with ``SPARK_GRAFT_CPUS=$(nproc)``, a fresh
   output directory and ``KGFORGE_LOCAL_DIR``, ``PYTHONPATH`` set to the
   repository root so Python workers can import ``kgforge``, and Spark's
   output sent to a log file; builds are repeated in fresh processes
   until ``--seconds`` have passed (at least one);
3. checks every build's output against a DuckDB oracle
   (:mod:`perfbench.check`); a build that raised, timed out, failed the
   worker-pool probe or the output check counts as failed;
4. deletes the run directory and prints one JSON line: the end-to-end
   metrics with ``--trace 0``, or, with ``--trace 1``, the per-layer
   metrics of one traced build. ``trace.overhead_s`` compares it with
   the median untraced ``build_s`` recorded by earlier runs in this
   checkout (``.perfbench/history``); with no history the run makes its
   own untraced build when it fits the per-run deadline.

Exits non-zero without a result line when the package under test is
missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("kg_corpus", "curate_docs")
RUN_DEADLINE_S = 170.0
WORK_DIR = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, seconds):
    a shared host's contention, which no run-level setting removes."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def records_in(workload: str, input_dir: str) -> int:
    import pyarrow.parquet as pq

    table = "lineitem" if workload == "kg_corpus" else "documents"
    return pq.ParquetFile(os.path.join(input_dir, f"{table}.parquet")).metadata.num_rows


def run_child(workload: str, input_dir: str, run_dir: str, trace: bool, deadline: float) -> dict:
    """One build in a fresh process. Returns the child's result dict
    with ``error`` set when the build failed."""
    out_dir = os.path.join(run_dir, "out")
    local_dir = os.path.join(run_dir, "local")
    result_path = os.path.join(run_dir, "result.json")
    # the child is stopped with SIGKILL, so nothing it leaves in a temp
    # dir is cleaned by the JVM: keep every temp file in the run dir
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    cmd = [sys.executable, "-m", "perfbench.child", "--workload", workload,
           "--input", input_dir, "--out", out_dir, "--result", result_path]
    if trace:
        cmd += ["--event-log", os.path.join(run_dir, "eventlog")]
    cores = nproc()
    env = dict(os.environ)
    for k in ("KGFORGE_SHUFFLE_PARTITIONS", "KGFORGE_DRIVER_MEM", "KGFORGE_WARM_PYTHON",
              "PYSPARK_GATEWAY_PORT"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "KGFORGE_LOCAL_DIR": local_dir,
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "TMPDIR": tmp_dir,
        # Spark's temp dirs and the extracted native codecs follow
        # java.io.tmpdir; the perf-counter file is always under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp_dir}", "-XX:-UsePerfData"))),
        "PERFBENCH_T0": repr(time.time()),
    })
    before, steal_before = loadavg(), steal_s()
    with open(os.path.join(run_dir, "spark.log"), "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    res: dict = {}
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    else:
        res["error"] = "timed out" if code is None else f"child exited {code}: " + _tail(run_dir)
    t_check = time.time()
    res.update({"nproc": cores, "loadavg_before": before, "loadavg_after": loadavg(),
                "steal_s": steal_s() - steal_before})
    if "error" not in res:
        from perfbench.check import CHECKS

        try:
            errors = CHECKS[workload](input_dir, out_dir, res)
        except Exception as e:  # a check that cannot run is a failed check
            errors = [f"check raised {type(e).__name__}: {e}"]
        if errors:
            res["error"] = "; ".join(errors)
    res["check_s"] = time.time() - t_check
    return res


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the child and everything it started (JVM, Python workers)."""
    try:
        os.killpg(proc.pid, 9)
    except ProcessLookupError:
        pass
    proc.wait()
    # grandchildren (the JVM, pyspark daemons) are not ours to wait on:
    # poll until the process group is empty
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _tail(run_dir: str, n: int = 5) -> str:
    try:
        with open(os.path.join(run_dir, "spark.log"), errors="replace") as f:
            return " | ".join(line.strip() for line in f.readlines()[-n:])
    except OSError:
        return ""


def end_to_end(builds: list[dict], records: int) -> dict:
    ok = [b for b in builds if "error" not in b]
    if not ok:
        return {}
    setup = statistics.median(b["setup_s"] for b in ok)
    build = statistics.median(b["build_s"] for b in ok)
    per_row = statistics.median(b["out_bytes"] / b["out_rows"] for b in ok)
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "build_s": {"value": build, "unit": "s"},
        "records_per_s": {"value": records / build, "unit": "1/s"},
        "out_bytes_per_row": {"value": per_row, "unit": "B"},
    }


PER_LAYER_UNITS = {
    "wall_s": "s", "self_s": "s", "busy_s": "s", "idle_slot_s": "slot-s", "jobs": "count",
    "tasks": "count", "failed_tasks": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
}
EXTRA_UNITS = {
    "session.jvm_peak_rss_mb": "MB", "extract.mentions": "count",
    "linking.resolved_ratio": "ratio", "graph.closure.rounds": "count",
    "graph.closure.pairs": "count", "resume.commit_groups": "count",
    "resume.files_written": "count", "datapipe.lsh.candidate_pairs": "count",
    "datapipe.curate.kept_ratio": "ratio", "trace.coverage": "ratio", "trace.overhead_s": "s",
}


def per_layer(traced: dict, untraced_build_s: float | None) -> dict:
    from perfbench.trace import layer_metrics

    t = traced["trace"]
    flat = layer_metrics(t["times"], traced["event_groups"], traced["cores"])
    extra = {k: 0 for k in EXTRA_UNITS}
    extra.update(t["counts"])
    extra["session.jvm_peak_rss_mb"] = traced["jvm_peak_rss_mb"]
    build_wall = t["times"]["build"]["wall_s"]
    layered = sum(v["self_s"] for k, v in t["times"].items() if k not in ("build", "session"))
    extra["trace.coverage"] = layered / build_wall
    # 0 when no untraced build of this workload has been measured yet
    extra["trace.overhead_s"] = build_wall - (untraced_build_s or build_wall)
    out = {k: {"value": v, "unit": PER_LAYER_UNITS[k.rsplit(".", 1)[1]]} for k, v in flat.items()}
    out.update({k: {"value": v, "unit": EXTRA_UNITS[k]} for k, v in extra.items()})
    return out


def _history_path(workload: str) -> str:
    return os.path.join(WORK_DIR, "history", f"{workload}.jsonl")


def record_history(workload: str, seed: int, builds: list[dict]) -> None:
    """Keep every passing untraced build_s: the reference a later traced
    run compares against when it has no time for its own untraced build."""
    os.makedirs(os.path.dirname(_history_path(workload)), exist_ok=True)
    with open(_history_path(workload), "a") as f:
        for b in builds:
            if "error" not in b and not b["traced"]:
                f.write(json.dumps({"seed": seed, "build_s": b["build_s"]}) + "\n")


def untraced_reference(workload: str, seed: int) -> float | None:
    """Median untraced build_s from this checkout's history: same seed
    if recorded, else every seed (seeds give isomorphic work)."""
    try:
        with open(_history_path(workload)) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return None
    same = [r["build_s"] for r in rows if r["seed"] == seed]
    pool = same or [r["build_s"] for r in rows]
    return statistics.median(pool) if pool else None


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Run one benchmark invocation; returns (result line, detail)."""
    from perfbench import gen

    deadline = time.monotonic() + RUN_DEADLINE_S
    input_dir = gen.ensure_inputs(workload, seed, os.path.join(WORK_DIR, "inputs"))
    records = records_in(workload, input_dir)
    runs_root = os.path.join(WORK_DIR, "runs")
    builds: list[dict] = []

    def build(traced: bool) -> dict:
        run_dir = os.path.join(runs_root, f"{workload}-{seed}-{os.getpid()}-{len(builds)}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        t = time.monotonic()
        try:
            b = run_child(workload, input_dir, run_dir, traced, deadline)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        b.update(traced=traced, wall_s=time.monotonic() - t)
        builds.append(b)
        return b

    def fits_another() -> bool:
        return time.monotonic() + 1.3 * builds[-1]["wall_s"] + 5 < deadline

    measured_from = time.monotonic()
    reference = None
    try:
        if trace:
            reference = untraced_reference(workload, seed)
            traced_b = build(True)
            if reference is None and "error" not in traced_b and fits_another():
                reference = build(False).get("build_s")
        else:
            build(False)
            # repeat fresh cold builds until --seconds have passed
            while time.monotonic() - measured_from < seconds and fits_another():
                build(False)
    finally:
        shutil.rmtree(runs_root, ignore_errors=True)
    record_history(workload, seed, builds)
    failed = [b for b in builds if "error" in b]
    if trace:
        metrics = per_layer(builds[0], reference) if "error" not in builds[0] else {}
    else:
        metrics = end_to_end(builds, records)
    line = {"correct": not failed, "attempted": len(builds), "failed": len(failed),
            "metrics": metrics}
    detail = {"workload": workload, "seed": seed, "records": records,
              "untraced_reference_s": reference, "builds": [
                  {k: v for k, v in b.items() if k not in ("trace", "event_groups", "per_predicate")}
                  for b in builds]}
    return line, detail


def preflight() -> None:
    """Exit non-zero (no result line) unless the package under test and
    the benchmark's dependencies import."""
    import importlib.util

    def absent(name: str) -> bool:
        try:
            return importlib.util.find_spec(name) is None
        except ImportError:  # a missing parent package
            return True

    missing = [m for m in ("duckdb", "pyarrow", "pyspark", "kgforge.pipeline",
                           "kgforge.datapipe.curate") if absent(m)]
    if missing:
        print(f"perfbench: cannot import {', '.join(missing)}", file=sys.stderr)
        sys.exit(2)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true", help="run every workload once; print a summary")
    args = p.parse_args(argv)
    if not args.all and not args.workload:
        p.error("--workload or --all is required")
    preflight()
    if args.all:
        return run_all(args.seed, args.seconds)
    line, detail = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail), file=sys.stderr)
    # a failed build is reported in the result line, not by the exit code
    print(json.dumps(line))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """One untraced run per workload; a table of the end-to-end metrics
    with units, plus the error rate (failed / attempted builds)."""
    ok = True
    print(f"{'workload':<12} {'metric':<18} {'value':>14}  unit")
    for w in WORKLOADS:
        line, detail = run_once(w, seed, seconds, trace=False)
        ok &= line["correct"]
        for name, m in line["metrics"].items():
            print(f"{w:<12} {name:<18} {m['value']:>14.4f}  {m['unit']}")
        print(f"{w:<12} {'error_rate':<18} {line['failed'] / line['attempted']:>14.4f}  ratio")
        for b in detail["builds"]:
            if "error" in b:
                print(f"{w:<12} error: {b['error']}", file=sys.stderr)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
