"""Workload definitions: which registered queries each workload runs.

Every workload is a list of names from ``registry.load_all()``.  A
traced run splits the query layer by the module that registers each
query (``QuerySpec.fn.__module__`` without the package prefix).
"""

from __future__ import annotations

PACKAGE = "big_data_analysis_spark"

# Two workloads of three queries keep a run near 50 s: set-up alone is
# ~18 s, then a cold pass, a check pass and two warm passes, and a
# benchmark comparison needs tens of runs per workload.  Warm times in
# the comments are sf0.1 on local[4] (4-core x86 box).
WORKLOADS: dict[str, list[str]] = {
    # Warehouse side: Catalyst planning and shuffle execution, one to a
    # few jobs per query, no LSH, no kernel persists.  stream_tumbling's
    # micro-batches run on the stream thread, outside the caller.
    "etl": [
        "tpch_q3",  # 1.6 s, 3-way join + top-k
        "agg_rollup",  # 1.8 s, grouping-sets aggregation
        "stream_tumbling",  # 3.4 s, file-stream micro-batches
    ],
    # LLM-data curation and driver-driven rounds: LSH candidate paths,
    # eager jobs and localCheckpoints at build, most of the time inside
    # the query call.
    "curation": [
        "sim_knn_lsh",  # 1.2 s, BRP LSH candidates (no oracle)
        "dedup_edit_distance",  # 1.4 s, blocked Levenshtein verify
        "graph_sssp_weighted",  # 2.4 s, 14 eager jobs, one per round
    ],
}


def module_of(spec) -> str:
    """Layer name of a query: its registering module, package prefix
    stripped (``operators.graph``)."""
    return spec.fn.__module__.removeprefix(PACKAGE + ".")
