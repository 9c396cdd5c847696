"""Seeded inputs: reordered fixture tables and micro-batch files.

The workload seed decides row order, batch cuts and request mixes; it
never decides which rows exist, so every output that does not depend on
arrival order is identical across seeds. Files are written with pyarrow
(no Spark job), one file and one row group each, like the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write_one_group(table: pa.Table, path: str) -> None:
    pq.write_table(
        table,
        path,
        row_group_size=max(table.num_rows, 1),
        compression="snappy",
        version="2.6",
    )


def reorder_tables(src_dir: str, dst_dir: str, names: list[str], seed: int) -> None:
    """Copy each fixture table with its rows in a seeded order. Column types
    and schema metadata are kept as read."""
    os.makedirs(dst_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in names:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        perm = rng.permutation(table.num_rows)
        _write_one_group(table.take(pa.array(perm)), os.path.join(dst_dir, f"{name}.parquet"))


def even_cuts(n_rows: int, n_batches: int) -> list[int]:
    """Boundaries of ``n_batches`` consecutive slices whose sizes differ by
    at most one row. Sizes are fixed, so every seed does the same amount of
    work per batch; the seeded row order decides what each batch holds."""
    if n_batches < 1 or n_rows < n_batches:
        raise ValueError(f"cannot cut {n_rows} rows into {n_batches} batches")
    return [n_rows * k // n_batches for k in range(n_batches + 1)]


def write_batches(table: pa.Table, out_dir: str, cuts: list[int]) -> list[str]:
    """One parquet file per batch, mtimes strictly increasing, so a file
    stream with ``maxFilesPerTrigger=1`` delivers batch k as micro-batch k
    (the file source orders by modification time)."""
    os.makedirs(out_dir, exist_ok=True)
    base = 1_600_000_000
    paths = []
    for k in range(len(cuts) - 1):
        path = os.path.join(out_dir, f"batch{k:04d}.parquet")
        _write_one_group(table.slice(cuts[k], cuts[k + 1] - cuts[k]), path)
        os.utime(path, (base + k, base + k))
        paths.append(path)
    return paths


def utc_timestamps(table: pa.Table, column: str) -> pa.Table:
    """Mark a naive timestamp column as UTC. The session zone is UTC, so a
    stream reading it as TIMESTAMP sees the values ``t()`` loads."""
    i = table.schema.get_field_index(column)
    col = table.column(column).cast(pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
    return table.set_column(i, column, col)


def near_duplicates(
    docs: pa.Table, cuts: list[int], every: int, id_base: int
) -> tuple[pa.Table, list[int]]:
    """Add a near-duplicate of every document whose id is divisible by
    ``every``: one word dropped (which one is fixed by the id), new id
    ``id_base + doc_id``, placed in the batch after its source's (the last
    batch when the source is in it). Returns the combined table and its
    batch cuts."""
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    n_batches = len(cuts) - 1
    batches = [
        (ids[cuts[k]:cuts[k + 1]], texts[cuts[k]:cuts[k + 1]]) for k in range(n_batches)
    ]
    for k in range(n_batches):
        for doc_id, text in zip(ids[cuts[k]:cuts[k + 1]], texts[cuts[k]:cuts[k + 1]]):
            if doc_id % every:
                continue
            words = text.split(" ")
            if len(words) > 1:
                del words[doc_id % len(words)]
            dst = min(k + 1, n_batches - 1)
            batches[dst][0].append(id_base + doc_id)
            batches[dst][1].append(" ".join(words))
    new_cuts = [0]
    for b_ids, _ in batches:
        new_cuts.append(new_cuts[-1] + len(b_ids))
    table = pa.table(
        {
            "doc_id": pa.array([i for b, _ in batches for i in b], pa.int64()),
            "text": pa.array([x for _, b in batches for x in b], pa.string()),
        }
    )
    return table, new_cuts


def take_every(table: pa.Table, column: str, modulus: int) -> pa.Table:
    """Rows whose integer ``column`` is divisible by ``modulus``: a
    seed-independent subset."""
    keys = table.column(column).to_numpy()
    return table.filter(pa.array(keys % modulus == 0))
