"""One benchmark run in a fresh process, started by ``run.py``.

Sets the program up through its public calls (``registry.load_all()``,
``session.get_spark()``, one untimed warm-up query), then runs the
workload's queries one at a time, in passes:

1. a cold pass;
2. an untimed check pass that collects every result and checks it;
3. warm passes, at least two, until cold and warm passes have taken
   ``--seconds``;
4. with ``--trace 1``, one more warm pass that also forces Catalyst
   planning and reads block-manager memory, for the per-layer figures,
   and one untraced pass after it.

Every timed step is a span (name, start, end, parent, query id).  Spark
jobs and stages are read from Spark's status store after each pass and
attributed to the span whose window holds their submission time, so
jobs the program starts on its own threads are counted too.  The result
is written as JSON for ``run.py`` to turn into metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import hashlib
import json
import os
import random
import sys
import threading
import time
import traceback

from workloads import WORKLOADS, module_of
from inputs import WARMUP_DIR

QUERY_TIMEOUT_S = 30.0
MIN_WARM_PASSES = 2
HERE = os.path.dirname(os.path.abspath(__file__))
STARTED = time.monotonic()

# StageData fields summed per span (status store units: ms, ns, bytes).
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - STARTED:6.1f} s] {msg}", file=sys.stderr, flush=True)


class Spans:
    """Spans kept in memory; each is a dict with name, start and end
    (epoch seconds), parent index and the id its query shares."""

    def __init__(self):
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None = None, qid: str | None = None) -> int:
        self.items.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent, "qid": qid}
        )
        return len(self.items) - 1

    def close(self, idx: int) -> float:
        span = self.items[idx]
        span["end"] = time.time()
        return span["end"] - span["start"]

    @contextlib.contextmanager
    def timed(self, name: str, parent: int, qid: str, rec: dict, key: str):
        """A span whose duration lands in ``rec[key]`` even if it raises."""
        idx = self.open(name, parent, qid)
        try:
            yield idx
        finally:
            rec[key] = self.close(idx)


class Watchdog:
    """Cancels every Spark job once a query passes its timeout, and
    keeps cancelling until the query returns."""

    def __init__(self, sc, seconds: float):
        self.sc, self.seconds, self.fired = sc, seconds, False
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)

    def _watch(self) -> None:
        if self._done.wait(self.seconds):
            return
        self.fired = True
        while not self._done.is_set():
            self.sc.cancelAllJobs()
            self._done.wait(1.0)

    def __enter__(self) -> "Watchdog":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()


class StatusStore:
    """Jobs, stages and block-manager memory from Spark's status store,
    serialised to JSON on the JVM side so one py4j call returns them, and
    the JVM's GC time."""

    def __init__(self, spark):
        self._jvm = jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return [
            {"id": j["jobId"], "submit": j["submissionTime"], "end": j["completionTime"]}
            for j in self._json(self._store.jobsList(None))
            if j.get("submissionTime") is not None
        ]

    def stages(self) -> list[dict]:
        store = self._store
        raw = self._json(
            store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
        )
        return [
            {"submit": s["submissionTime"], **{f: s[f] for f in STAGE_FIELDS}}
            for s in raw
            if s.get("submissionTime") is not None
        ]

    def gc_ms(self) -> int:
        """GC time of the whole JVM so far: in local mode driver and task
        threads share it, and task-level GC time is often 0 on sf0.1."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def memory_used_bytes(self) -> int:
        return sum(e["memoryUsed"] for e in self._json(self._store.executorList(True)))


def rows_digest(pdf) -> str:
    """Order-insensitive digest of a result, over parity.canonical_rows."""
    from big_data_analysis_spark.parity import canonical_rows

    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


class Runner:
    def __init__(self, args):
        self.args = args
        self.spans = Spans()
        self.failures: list[dict] = []
        self.attempted = 0

    # ---- set-up -------------------------------------------------------
    def setup(self) -> dict:
        spans = self.spans
        root = spans.open("setup")
        s = spans.open("registry", root)
        from big_data_analysis_spark.registry import load_all

        self.reg = load_all()
        t_registry = spans.close(s)

        s = spans.open("session", root)
        from big_data_analysis_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t_session = spans.close(s)

        from big_data_analysis_spark.operators.windows import release_kernel_persists

        self.release = release_kernel_persists
        s = spans.open("warmup", root)
        self.execute(self.reg["tpch_q1"].fn(self.spark, WARMUP_DIR))
        self.release()
        t_warmup = spans.close(s)
        spans.close(root)

        missing = [q for qs in WORKLOADS.values() for q in qs if q not in self.reg]
        if missing:
            raise SystemExit(f"self-check: workload queries not registered: {missing}")
        self.store = StatusStore(self.spark)
        return {
            "ready": time.time(),
            "registry.load_all_s": t_registry,
            "session.get_spark_s": t_session,
            "setup.warmup_s": t_warmup,
        }

    @staticmethod
    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ---- one query ----------------------------------------------------
    def run_query(self, spec, pass_idx: int, label: str, mode: str) -> dict:
        """Build, then (mode "timed"/"traced") write to noop or (mode
        "check") collect and check, then release.  "traced" also forces
        Catalyst planning and reads block-manager memory."""
        spans, spark = self.spans, self.spark
        qid = f"{label}:{spec.name}"
        q = spans.open("query", pass_idx, qid)
        rec = {"query": spec.name, "module": module_of(spec), "windows": {}}
        self.attempted += 1
        error = None
        with Watchdog(spark.sparkContext, QUERY_TIMEOUT_S) as dog:
            try:
                with spans.timed("build", q, qid, rec, "build_s") as s:
                    rec["windows"]["build"] = s
                    df = spec.fn(spark, self.args.sf_dir)
                if mode == "traced":
                    with spans.timed("plan", q, qid, rec, "plan_s"):
                        df._jdf.queryExecution().executedPlan()
                if mode == "check":
                    error = self.check(spec, df, q, qid)
                else:
                    with spans.timed("execute", q, qid, rec, "exec_s") as s:
                        rec["windows"]["execute"] = s
                        self.execute(df)
            except Exception as e:  # noqa: BLE001 -- a failing query is counted, the run goes on
                error = f"{type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
        if dog.fired:
            error = f"timeout after {QUERY_TIMEOUT_S:.0f} s" + (f" ({error})" if error else "")
        if error is not None:
            self.failures.append({"query": spec.name, "pass": label, "reason": error})
        if mode == "traced":
            with spans.timed("storage", q, qid, rec, "storage_s"):
                rec["persisted_bytes"] = self.store.memory_used_bytes()
        with spans.timed("release", q, qid, rec, "release_s"):
            rec["release_freed"] = self.release()
        spans.close(q)
        rec["failed"] = error is not None
        return rec

    def check(self, spec, df, parent: int, qid: str) -> str | None:
        """Collect the result and compare it with the DuckDB oracle over
        the same input, or, without an oracle, with the recorded digest."""
        from big_data_analysis_spark import parity

        s = self.spans.open("check", parent, qid)
        try:
            if spec.oracle is None:
                want = self.digests.get(spec.name)
                got = rows_digest(df.toPandas())
                return None if got == want else f"digest {got} != recorded {want}"
            same_df = dataclasses.replace(spec, fn=lambda _spark, _dir: df)
            report = parity.compare_query(self.spark, self.duck, same_df, self.args.sf_dir)
            return None if report.ok else f"oracle mismatch: {report.detail}"
        finally:
            self.spans.close(s)

    # ---- passes -------------------------------------------------------
    def run_pass(self, order, label: str, mode: str = "timed") -> dict:
        gc_ms = self.store.gc_ms() if mode == "traced" else 0
        p = self.spans.open("pass", None, label)
        queries = [self.run_query(self.reg[name], p, label, mode) for name in order]
        rec = {"label": label, "wall_s": self.spans.close(p), "queries": queries}
        if mode == "traced":
            rec["gc_s"] = (self.store.gc_ms() - gc_ms) / 1000.0
        self.attribute(rec, p)
        times = ", ".join(
            f"{q['query']} {q.get('build_s', 0):.2f}+{q.get('exec_s', 0):.2f}" for q in queries
        )
        log(f"{label} pass {rec['wall_s']:.2f} s (build+exec: {times})")
        return rec

    def attribute(self, rec: dict, pass_idx: int) -> None:
        """Give each query the jobs and stages submitted inside its build
        and execute spans; jobs become child spans of those."""
        start_ms = self.spans.items[pass_idx]["start"] * 1000.0 - 1.0
        jobs = [j for j in self.store.jobs() if j["submit"] >= start_ms]
        stages = [s for s in self.store.stages() if s["submit"] >= start_ms]
        for q in rec["queries"]:
            q["stats"] = {}
            for kind, idx in q["windows"].items():
                span = self.spans.items[idx]
                lo, hi = span["start"] * 1000.0 - 1.0, span["end"] * 1000.0 + 1.0
                inside = lambda x: lo <= x["submit"] <= hi  # noqa: E731
                mine = [j for j in jobs if inside(j)]
                mine_st = [s for s in stages if inside(s)]
                # a submission on a window edge goes to the first window only
                jobs = [j for j in jobs if not inside(j)]
                stages = [s for s in stages if not inside(s)]
                for j in mine:
                    self.spans.items.append(
                        {
                            "name": f"job {j['id']}",
                            "start": j["submit"] / 1000.0,
                            "end": (j["end"] or j["submit"]) / 1000.0,
                            "parent": idx,
                            "qid": span["qid"],
                        }
                    )
                stats = {f: sum(s[f] for s in mine_st) for f in STAGE_FIELDS}
                stats["jobs"] = len(mine)
                stats["stages"] = len(mine_st)
                stats["job_busy_s"] = _covered(
                    [(j["submit"], j["end"] or hi) for j in mine], lo, hi
                ) / 1000.0
                q["stats"][kind] = stats

    def run(self) -> dict:
        args = self.args
        setup = self.setup()
        log("set up")
        with open(os.path.join(HERE, "digests.json")) as f:
            self.digests = json.load(f)
        from big_data_analysis_spark.parity import duck_connect

        self.duck = duck_connect(args.sf_dir)
        order = list(WORKLOADS[args.workload])
        random.Random(args.seed).shuffle(order)

        # The check pass is untimed; it also lets the JIT settle, which
        # still moves the first warm pass by ~30 %.
        passes = [self.run_pass(order, "cold"), self.run_pass(order, "check", "check")]
        measured = passes[0]["wall_s"]
        warm: list[dict] = []
        while len(warm) < MIN_WARM_PASSES or measured < args.seconds:
            warm.append(self.run_pass(order, f"warm{len(warm) + 1}"))
            measured += warm[-1]["wall_s"]
        passes += warm
        if args.trace:
            # Passes still drift, so the traced pass is bracketed by
            # untraced ones for the overhead figure.
            passes.append(self.run_pass(order, "traced", "traced"))
            passes.append(self.run_pass(order, "after_traced"))

        jvm = self.spark._jvm
        jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        return {
            "setup": setup,
            "passes": passes,
            "attempted": self.attempted,
            "failures": self.failures,
            "order": order,
            "peak_rss_mb": _vm_hwm_kb(jvm_pid) / 1024.0,
            "conditions": {
                "cores": self.spark.sparkContext.defaultParallelism,
                "driver_heap": self.spark.conf.get("spark.driver.memory"),
                "spark": self.spark.version,
                "java": jvm.java.lang.System.getProperty("java.version"),
            },
            "spans": self.spans.items,
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        proc = spark.sparkContext._gateway.proc
        log("stopping Spark")
        spark.stop()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        log("Spark stopped")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _vm_hwm_kb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    runner = Runner(args)
    try:
        result = runner.run()
    finally:
        runner.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
