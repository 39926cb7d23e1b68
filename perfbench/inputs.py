"""Seeded benchmark inputs.

Seed 0 is the sf0.1 fixture directory itself, read as it is.  Any other
seed writes the ten tables into a work directory with their rows in a
seed-determined order.  The row multiset of every table is unchanged,
``events`` stays in ``ts`` order (FIXTURES.md documents it as a
property of the input), and each table stays one file with one row
group, so the scan layout the program sees does not change.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# TESTDATA.md: the fixtures every harness in the repo reads.  The
# override mirrors bench.py's.
FIXTURE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_DIR = os.path.join(os.path.dirname(FIXTURE_DIR.rstrip("/")), "sf0.001")


def _shuffled(table: pa.Table, rng: np.random.Generator, name: str) -> pa.Table:
    out = table.take(pa.array(rng.permutation(table.num_rows)))
    if name == "events":
        # stable sort: rows that share a ts keep their shuffled order
        out = out.take(pc.sort_indices(out, [("ts", "ascending")]))
    return out


def prepare(seed: int, work_dir: str) -> str:
    """Return the input directory for ``seed``, writing it if needed."""
    if seed == 0:
        return FIXTURE_DIR
    out_dir = os.path.join(work_dir, f"inputs-seed{seed}")
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        src = pq.ParquetFile(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        rng = np.random.default_rng([seed, i])
        table = _shuffled(src.read(), rng, name)
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    return out_dir


def layout_errors(sf_dir: str) -> list[str]:
    """Cheap per-run invariants of an input directory: one row group per
    table, the fixture's row counts and schemas, and ``events`` in ``ts``
    order."""
    errors = []
    for name in TABLES:
        ref = pq.ParquetFile(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        got = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet"))
        if got.metadata.num_row_groups != 1:
            errors.append(f"{name}: {got.metadata.num_row_groups} row groups")
        if got.metadata.num_rows != ref.metadata.num_rows:
            errors.append(f"{name}: {got.metadata.num_rows} rows")
        if not got.schema_arrow.equals(ref.schema_arrow):
            errors.append(f"{name}: schema differs")
    ts = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"])["ts"]
    if len(ts) > 1 and not pc.all(pc.less_equal(ts[:-1], ts[1:])).as_py():
        errors.append("events: not in ts order")
    return errors


def multiset_errors(sf_dir: str) -> list[str]:
    """Full check: every table holds the fixture's row multiset."""
    errors = []
    for name in TABLES:
        ref = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        got = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        if _sorted_rows(ref) != _sorted_rows(got):
            errors.append(f"{name}: row multiset differs from the fixture")
    return errors


def _sorted_rows(table: pa.Table) -> list[tuple]:
    cols = [table[c].to_pylist() for c in table.column_names]
    return sorted(zip(*cols), key=repr)
