"""Per-file lineage rows (north-star stage 4).

Each materialized table gets one row per data file it was written as, in the
``lineage`` directory: (stage, part_id, n_rows, key_min, key_max,
written_at). The reference analog is the SQLite files-ledger
(index.py:314-401) — here it is a queryable table so a resumed run, an
auditor, or a skew monitor can see exactly what each write task produced
(the hub-entity skew test reads this).

The rows come from the written parquet footers (``record_lineage``), on the
driver, with no Spark job and no data scanned: the same facts Iceberg keeps
per data file (``record_count``, ``lower_bounds``, ``upper_bounds``).
``part_id`` is the index of the write task in the ``part-NNNNN`` file name
(no writer here rolls a task over to a second file, so it is unique per
table), ``key_min``/``key_max`` the typed min and max of the key column
rendered as strings (so a long key 10 is above 9). Each table's rows live in
one file, ``<lineage_dir>/<table>.parquet``, replaced atomically whenever the
table is (re)written, so a rebuilt stage or a refreshed table never leaves
stale or duplicate rows. Lineage is recorded for parquet tables only; the
pipeline always writes a parquet ``TableStore``.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..sources.storage import part_files

LINEAGE_SCHEMA = (
    "stage string, part_id int, n_rows long, key_min string, key_max string, "
    "written_at double"
)
# LINEAGE_SCHEMA's column order and types, for the files written here
_LINEAGE_ARROW = pa.schema(
    [
        ("stage", pa.string()),
        ("part_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("key_min", pa.string()),
        ("key_max", pa.string()),
        ("written_at", pa.float64()),
    ]
)


def _key_bounds(path: str, meta, key_col: str) -> tuple:
    """Min and max of ``key_col`` in one file from its row-group
    statistics. A row group without them (all null, or a value too long
    for the writer to keep, over 4,096 bytes in parquet-java) sends the
    whole file's column through pyarrow instead."""
    col = meta.schema.names.index(key_col)
    stats = [meta.row_group(g).column(col).statistics
             for g in range(meta.num_row_groups)]
    if all(st is not None and st.has_min_max for st in stats):
        return min(st.min for st in stats), max(st.max for st in stats)
    mm = pc.min_max(pq.read_table(path, columns=[key_col])[key_col])
    return mm["min"].as_py(), mm["max"].as_py()


def record_lineage(
    table_dir: str, lineage_dir: str, table: str, stage: str, key_col: str
) -> None:
    """Replace ``table``'s lineage file in ``lineage_dir`` with one row per
    non-empty data file of the Spark-written parquet table in
    ``table_dir``, from the file footers alone. The file is written with
    pyarrow to a hidden temporary name (which neither Spark nor a
    ``*.parquet`` glob reads), then renamed into place."""
    now = time.time()
    rows = []
    for path in part_files(table_dir):
        meta = pq.read_metadata(path)
        if meta.num_rows == 0:
            continue
        lo, hi = _key_bounds(path, meta, key_col)
        rows.append({
            "stage": stage,
            "part_id": int(os.path.basename(path).split("-")[1]),
            "n_rows": meta.num_rows,
            "key_min": None if lo is None else str(lo),
            "key_max": None if hi is None else str(hi),
            "written_at": now,
        })
    os.makedirs(lineage_dir, exist_ok=True)
    tmp = os.path.join(lineage_dir, f".{table}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=_LINEAGE_ARROW), tmp)
    os.replace(tmp, os.path.join(lineage_dir, f"{table}.parquet"))
