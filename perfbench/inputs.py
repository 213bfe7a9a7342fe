"""Seeded benchmark inputs, derived with pyarrow alone.

Every fact table is a keyed, seeded subset of a base fixture directory
(the program's default fixture scale): orders travel with their
lineitems, events are kept by user, documents and embeddings by id.
Dimension tables are copied whole. Column types and schema metadata are
preserved exactly. Each table is one parquet file split into several row
groups, so a scan can be divided across cores.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")

#: fact table -> key column whose hash decides if a row is kept
KEYED = {
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: tables whose ids run densely from 0 in the base fixture; queries probe
#: fixed low ids (``vec_id < 5``), so the kept rows are re-keyed densely
#: in their original order
DENSE_IDS = ("documents", "embeddings")

ROW_GROUPS = 8


def _keep_mask(keys: np.ndarray, seed: int, keep: float) -> np.ndarray:
    """splitmix64 of (key, seed) mapped to [0, 1): the same key and seed
    always give the same answer, so a subset is reproducible and keyed."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53) < keep


def _write(table: pa.Table, path: str) -> None:
    rows_per_group = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows_per_group, compression="snappy")


def generate(base_dir: str, out_dir: str, seed: int, keep: dict[str, float]) -> dict[str, int]:
    """Write every table into ``out_dir``; ``keep`` maps each fact table to
    the share of its keys to keep (lineitem follows orders). Returns the
    row count of every table written."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def src(name: str) -> pa.Table:
        return pq.read_table(os.path.join(base_dir, f"{name}.parquet"))

    def put(name: str, table: pa.Table) -> None:
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    for name in DIMENSIONS:
        put(name, src(name))
    for name, key in KEYED.items():
        table = src(name)
        mask = _keep_mask(table.column(key).to_numpy(), seed, keep[name])
        table = table.filter(pa.array(mask))
        if name in DENSE_IDS:
            ids = pa.array(np.arange(table.num_rows, dtype=np.int64), type=table.schema.field(key).type)
            table = table.set_column(table.schema.get_field_index(key), table.schema.field(key), ids)
        put(name, table)
        if name == "orders":
            lineitem = src("lineitem")
            put("lineitem", lineitem.filter(pc.is_in(lineitem.column("l_orderkey"), table.column(key))))
    return rows
