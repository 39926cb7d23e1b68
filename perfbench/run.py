"""Repository benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl --seed 0 --seconds 12 --trace 0

Run from the repository root.  The workloads, metrics and bounds are in
``BENCHMARK.json``; perfbench/README.md says what each one measures.

The seed picks the input (seed 0: the sf0.1 fixture as it is; any other
seed: the same rows in a seed-determined order, see inputs.py) and the
query order.  The run starts ``session_run.py`` in a new process with
the repository on the Python path of the driver and of Spark's Python
workers, waits for it, and prints:

- a ``conditions`` line (seed, cores, driver heap, versions, source
  digest, loadavg at start and end, failures with their reasons);
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with every end-to-end metric (``--trace 0``) or every per-layer
  metric (``--trace 1``) that ``BENCHMARK.json`` names.

Everything it writes goes under ``.perfbench_work/`` in the repository
root; seeded inputs are removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE_DIR = os.path.join(ROOT, "big_data_analysis_spark")
RUN_DEADLINE_S = 170.0
DRIVER_HEAP = "4g"  # below the memory of the smallest box this runs on
MB = 1024.0 * 1024.0


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(PACKAGE_DIR):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def child_env() -> dict:
    """Environment of a measured process: the repository on the Python
    path (Spark's Python workers inherit it), local[nproc], a driver heap
    below physical memory, and every scratch file under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    )
    return env


def run_child(args, sf_dir: str, result_path: str, deadline: float) -> float:
    """Start the measured process, wait for it, return its spawn time.
    The child and everything it starts (JVM, Python workers) share one
    process group, which is killed and reaped whatever happens."""
    cmd = [
        sys.executable, os.path.join(HERE, "session_run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", sf_dir, "--result", result_path,
    ]
    spawned = time.time()
    child = subprocess.Popen(
        cmd, cwd=WORK, env=child_env(), stdout=sys.stderr, start_new_session=True
    )
    try:
        child.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: run passed its deadline, stopping it", file=sys.stderr)
    finally:
        _kill_group(child)
    if child.returncode != 0:
        raise RuntimeError(f"measured process exited with {child.returncode}")
    return spawned


def _kill_group(child: subprocess.Popen) -> None:
    pgid = child.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    for _ in range(300):  # the JVM and workers are not our children
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


# ---- metrics ------------------------------------------------------------

def _query_time(q: dict) -> float:
    return q.get("build_s", 0.0) + q.get("exec_s", 0.0)


def _stat_sum(q: dict, field: str, kinds=("build", "execute")) -> float:
    return sum(q["stats"].get(k, {}).get(field, 0) for k in kinds)


def _remainder(p: dict) -> float:
    """Pass time not inside any timed call: the harness's own share."""
    return p["wall_s"] - sum(
        _query_time(q) + q.get("plan_s", 0.0) + q.get("storage_s", 0.0) + q["release_s"]
        for q in p["queries"]
    )


def end_to_end(res: dict, spawned: float) -> dict:
    warm = [p for p in res["passes"] if p["label"].startswith("warm")]
    cold = res["passes"][0]
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for q in p["queries"]:
            per_query.setdefault(q["query"], []).append(_query_time(q))
    # a query that failed in every warm pass has no time to average
    medians = [m for m in map(statistics.median, per_query.values()) if m > 0]
    return {
        "setup_s": (res["setup"]["ready"] - spawned, "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(math.log(m) for m in medians)), "s"),
        "task_cpu_s": (
            statistics.median(
                sum(_stat_sum(q, "executorCpuTime") for q in p["queries"]) / 1e9
                for p in warm
            ),
            "s",
        ),
    }


def _query_layer(prefix: str, qs: list[dict]) -> dict:
    return {
        f"{prefix}.build_s": (sum(q.get("build_s", 0.0) for q in qs), "s"),
        f"{prefix}.build_jobs": (sum(_stat_sum(q, "jobs", ("build",)) for q in qs), "count"),
        f"{prefix}.exec_s": (sum(q.get("exec_s", 0.0) for q in qs), "s"),
        f"{prefix}.task_cpu_s": (sum(_stat_sum(q, "executorCpuTime") for q in qs) / 1e9, "s"),
    }


def per_module(res: dict) -> dict:
    """The query layer of the traced pass split by registering module.
    Printed on the conditions line, not as metrics: a module outside the
    workload would read 0 on every run."""
    qs = next(p for p in res["passes"] if p["label"] == "traced")["queries"]
    out = {}
    for mod in sorted({q["module"] for q in qs}):
        layer = _query_layer(mod, [q for q in qs if q["module"] == mod])
        out[mod] = {name.removeprefix(mod + "."): v for name, (v, _) in layer.items()}
    return out


def per_layer(res: dict) -> dict:
    by_label = {p["label"]: p for p in res["passes"]}
    traced = by_label["traced"]
    warm = [p for p in res["passes"] if p["label"].startswith("warm")]
    untraced_s = (warm[-1]["wall_s"] + by_label["after_traced"]["wall_s"]) / 2.0
    qs = traced["queries"]
    cores = res["conditions"]["cores"]
    m = {
        "registry.load_all_s": (res["setup"]["registry.load_all_s"], "s"),
        "session.get_spark_s": (res["setup"]["session.get_spark_s"], "s"),
        "setup.warmup_s": (res["setup"]["setup.warmup_s"], "s"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    m.update(_query_layer("query", qs))
    build = sum(q.get("build_s", 0.0) for q in qs)
    build_jobs = sum(q["stats"].get("build", {}).get("job_busy_s", 0.0) for q in qs)
    run_s = sum(_stat_sum(q, "executorRunTime") for q in qs) / 1000.0
    call_wall = sum(_query_time(q) for q in qs)
    m.update(
        {
            "build.driver_self_s": (build - build_jobs, "s"),
            "build.job_s": (build_jobs, "s"),
            "catalyst.plan_s": (sum(q.get("plan_s", 0.0) for q in qs), "s"),
            "spark.jobs": (sum(_stat_sum(q, "jobs") for q in qs), "count"),
            "spark.stages": (sum(_stat_sum(q, "stages") for q in qs), "count"),
            "spark.tasks": (sum(_stat_sum(q, "numTasks") for q in qs), "count"),
            "spark.task_run_s": (run_s, "s"),
            "jvm.gc_s": (traced["gc_s"], "s"),
            "spark.shuffle_read_mb": (sum(_stat_sum(q, "shuffleReadBytes") for q in qs) / MB, "MB"),
            "spark.shuffle_write_mb": (sum(_stat_sum(q, "shuffleWriteBytes") for q in qs) / MB, "MB"),
            "spark.spill_mb": (sum(_stat_sum(q, "diskBytesSpilled") for q in qs) / MB, "MB"),
            "spark.slot_util": (run_s / (call_wall * cores), "ratio"),
            "windows.release_freed": (sum(q["release_freed"] for q in qs), "count"),
            "windows.release_s": (sum(q["release_s"] for q in qs), "s"),
            "storage.persisted_mb": (max(q["persisted_bytes"] for q in qs) / MB, "MB"),
            "harness.remainder_s": (_remainder(traced), "s"),
            "trace.overhead_s": (traced["wall_s"] - untraced_s, "s"),
        }
    )
    return m


def self_check_remainder(res: dict) -> list[str]:
    """Per timed pass, the timed calls must account for the pass time.
    Passes with a failed query are left out: reporting the failure
    (a traceback) takes harness time, and the failure is counted."""
    return [
        f"{p['label']}: {_remainder(p):.3f} s of {p['wall_s']:.3f} s not in any timed call"
        for p in res["passes"]
        if p["label"] != "check"
        and not any(q["failed"] for q in p["queries"])
        and _remainder(p) > max(0.1, 0.02 * p["wall_s"])
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_DEADLINE_S
    # so that a terminated run still kills and reaps its process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = {w["name"] for w in spec["workloads"]}
    if args.workload not in workloads:
        return fail(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "registry.py")):
        return fail(f"the program is missing: no {PACKAGE_DIR}/registry.py")
    sys.path.insert(0, HERE)
    import inputs

    if not os.path.isdir(inputs.FIXTURE_DIR):
        return fail(f"fixture directory {inputs.FIXTURE_DIR} is missing")

    load_start = os.getloadavg()[0]
    os.makedirs(WORK, exist_ok=True)
    sf_dir = inputs.prepare(args.seed, WORK)
    try:
        errors = inputs.layout_errors(sf_dir)
        if errors:
            return fail(f"seeded inputs broke an invariant: {errors}")
        result_path = os.path.join(WORK, f"result-{args.workload}-{args.seed}.json")
        try:
            spawned = run_child(args, sf_dir, result_path, deadline)
        except RuntimeError as e:
            return fail(str(e), 1)
        with open(result_path) as f:
            res = json.load(f)
        os.remove(result_path)
    finally:
        if sf_dir != inputs.FIXTURE_DIR:
            shutil.rmtree(sf_dir, ignore_errors=True)

    errors = self_check_remainder(res)
    metrics = per_layer(res) if args.trace else end_to_end(res, spawned)
    declared = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != declared:
        errors.append(
            f"metric names differ from BENCHMARK.json: extra {sorted(set(metrics) - declared)},"
            f" missing {sorted(declared - set(metrics))}"
        )
    if errors:
        return fail(f"self-check failed: {errors}", 3)

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"order": res["order"], "spans": res["spans"]}, f)
        print(f"perfbench: spans written to {trace_path}", file=sys.stderr)

    failed = len(res["failures"])
    print(
        json.dumps(
            {
                "conditions": {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    **res["conditions"],
                    "git_commit": git_commit(),
                    "source_sha256": source_digest(),
                    "loadavg_1m_start": load_start,
                    "loadavg_1m_end": os.getloadavg()[0],
                    "query_order": res["order"],
                    "passes": [p["label"] for p in res["passes"]],
                    "failed_frac": failed / res["attempted"],
                    **({"modules": per_module(res)} if args.trace else {}),
                    "failures": res["failures"],
                }
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
