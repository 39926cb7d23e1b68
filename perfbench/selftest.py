"""Self-checks of the benchmark itself, beyond those every run makes.

    python3 perfbench/selftest.py

Run from the repository root; it takes two to three minutes.

1. Seeded inputs: seed 0 is the fixture directory and writes nothing;
   other seeds keep every table's row multiset and schema, one row group
   per table, and ``events`` in ``ts`` order.
2. Job attribution: in a traced ``etl`` run, ``stream_tumbling``'s
   module gets non-zero build jobs and task CPU, although its
   micro-batches run on the stream thread.

Every run already checks that the workload queries are registered, that
the printed metric names are the ones ``BENCHMARK.json`` declares, and
that the timed calls account for each pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import inputs
from run import ROOT, WORK


def check_inputs() -> list[str]:
    os.makedirs(WORK, exist_ok=True)
    before = set(os.listdir(WORK))
    errors = []
    if inputs.prepare(0, WORK) != inputs.FIXTURE_DIR or set(os.listdir(WORK)) != before:
        errors.append("seed 0 must read the fixture directory and write nothing")
    for seed in (1, 2):
        sf_dir = inputs.prepare(seed, WORK)
        try:
            errors += [f"seed {seed}: {e}" for e in inputs.layout_errors(sf_dir)]
            errors += [f"seed {seed}: {e}" for e in inputs.multiset_errors(sf_dir)]
        finally:
            shutil.rmtree(sf_dir)
    return errors


def check_stream_attribution() -> list[str]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "etl", "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300,
    )
    if out.returncode != 0:
        return [f"traced etl run exited with {out.returncode}"]
    conditions = json.loads(out.stdout.strip().splitlines()[-2])["conditions"]
    stream = conditions["modules"]["streaming.stream_ops"]
    return [
        f"streaming.stream_ops {key} is {stream[key]}, expected > 0"
        for key in ("build_jobs", "task_cpu_s")
        if not stream[key] > 0
    ]


def main() -> int:
    failed = False
    for check in (check_inputs, check_stream_attribution):
        errors = check()
        print(f"{'FAIL' if errors else 'ok  '} {check.__name__}")
        for e in errors:
            print(f"     {e}")
        failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
