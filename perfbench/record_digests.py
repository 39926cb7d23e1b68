"""Record the output digests of the workload queries that have no oracle.

    python3 perfbench/record_digests.py

Run from the repository root at a commit whose outputs are trusted.  It
runs each such query once on the seed-0 input and rewrites
perfbench/digests.json, which the benchmark's output check compares
against at every seed.
"""

from __future__ import annotations

import json
import os
import sys

from inputs import FIXTURE_DIR
from run import HERE, ROOT, WORK, child_env
from workloads import WORKLOADS


def main() -> int:
    os.environ.update(child_env())
    os.chdir(WORK)
    sys.path.insert(0, ROOT)
    from session_run import rows_digest

    from big_data_analysis_spark.operators.windows import release_kernel_persists
    from big_data_analysis_spark.registry import load_all
    from big_data_analysis_spark.session import get_spark

    reg = load_all()
    spark = get_spark("perfbench-digests")
    digests = {}
    for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
        if reg[name].oracle is None:
            digests[name] = rows_digest(reg[name].fn(spark, FIXTURE_DIR).toPandas())
            release_kernel_persists()
    spark.stop()
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(digests, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(digests, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
