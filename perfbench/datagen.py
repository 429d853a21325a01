"""Seeded ×N copies of the sf0.1 tables for the benchmark.

``make_replicated`` copies a base table set (the engine's sf0.1 testdata)
with the fact tables (``lineitem``, ``orders``, ``events``) replicated
``factor`` times. Replica ``r`` offsets every order, event and user key by
``r`` times that key's range in the base, so joins and sessions only ever
match inside their own replica. Dimension tables are copied unchanged, and
every table keeps the base's parquet schema. The seed fixes the order of the
replicas and of the rows inside each one; the values come from the base.

The output directory is finished by creating ``DONE``, so an interrupted
generation is never mistaken for a finished one.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

FACT_TABLES = ("lineitem", "orders", "events")
DIM_TABLES = (
    "region", "nation", "customer", "supplier", "part", "documents", "embeddings",
)

# Per fact table: each key column offset per replica, and the base
# (table, column) whose range gives the offset stride.
_OFFSETS = {
    "lineitem": {"l_orderkey": ("orders", "o_orderkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey")},
    "events": {
        "event_id": ("events", "event_id"),
        "user_id": ("events", "user_id"),
    },
}


def cache_key(base_dir: str) -> str:
    """Short hash of this generator and the base files it would read, so a
    cached copy is reused only while both are unchanged."""
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(os.path.abspath(base_dir).encode())
    for name in FACT_TABLES + DIM_TABLES:
        st = os.stat(os.path.join(base_dir, f"{name}.parquet"))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def make_replicated(base_dir: str, out_dir: str, seed: int, factor: int) -> None:
    """Replicate the fact tables of ``base_dir`` ×``factor`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in DIM_TABLES:
        shutil.copyfile(
            os.path.join(base_dir, f"{name}.parquet"),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    base = {
        name: pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        for name in FACT_TABLES
    }
    stride = {
        src: int(pc.max(base[src[0]].column(src[1])).as_py()) + 1
        for cols in _OFFSETS.values()
        for src in cols.values()
    }

    def replicate(name, rng):
        table = base[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        # One row group per replica, written in a seeded replica order with
        # the rows of each replica in their own seeded order.
        with pq.ParquetWriter(path, table.schema, compression="snappy") as out:
            for r in rng.permutation(factor):
                part = table.take(rng.permutation(table.num_rows))
                for col, src in _OFFSETS[name].items():
                    i = part.schema.get_field_index(col)
                    shifted = pc.add(part.column(col), int(r) * stride[src])
                    part = part.set_column(i, col, shifted)
                out.write_table(part)

    rngs = np.random.default_rng([seed, factor]).spawn(len(FACT_TABLES))
    with ThreadPoolExecutor(len(FACT_TABLES)) as pool:
        list(pool.map(replicate, FACT_TABLES, rngs))
    check_replicated(base_dir, out_dir, factor)
    _mark_done(out_dir)


def row_count(data_dir: str, name: str) -> int:
    return pq.ParquetFile(os.path.join(data_dir, f"{name}.parquet")).metadata.num_rows


def check_replicated(base_dir: str, out_dir: str, factor: int) -> None:
    """Raise unless every fact table holds exactly ``factor`` × its base rows
    under the base's schema."""
    for name in FACT_TABLES:
        base_file = os.path.join(base_dir, f"{name}.parquet")
        out_file = os.path.join(out_dir, f"{name}.parquet")
        want = factor * row_count(base_dir, name)
        got = row_count(out_dir, name)
        if got != want:
            raise RuntimeError(f"{name}: {got} rows, expected {want}")
        if not pq.ParquetFile(out_file).schema.equals(pq.ParquetFile(base_file).schema):
            raise RuntimeError(f"{name}: schema differs from {base_file}")


def is_done(data_dir: str) -> bool:
    return os.path.exists(os.path.join(data_dir, "DONE"))


def _mark_done(data_dir: str) -> None:
    open(os.path.join(data_dir, "DONE"), "w").close()
