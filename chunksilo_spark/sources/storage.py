"""Table storage abstraction: Iceberg when a catalog is configured, parquet
directories otherwise (SURVEY §7.4 risk 2 — no Iceberg jars in this sandbox).

The features the pipeline relies on (atomic stage commit, resumable state,
snapshot-style change detection) have parquet-dir equivalents implemented
here: each write goes to the final path via Spark's own atomic rename
protocol, and stage completion is recorded in a JSON manifest written
atomically (tmp + os.replace). On a real cluster, set
``spark.sql.catalog.<name>`` to an Iceberg catalog and pass
``table_format='iceberg'`` — writes become ``writeTo(...).createOrReplace``
and the manifest becomes redundant with Iceberg snapshots (kept anyway for
stage bookkeeping).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# where Spark's parquet writer keeps the table's own schema (as StructType
# JSON) in each file's footer key-value metadata
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def part_files(table_dir: str) -> list[str]:
    """The data files directly inside a parquet table directory, sorted.
    Names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files,
    temporaries) are not data, by Spark's own rule."""
    try:
        names = os.listdir(table_dir)
    except FileNotFoundError:
        return []
    return sorted(
        os.path.join(table_dir, n)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )


def footer_schema(table_dir: str) -> StructType | None:
    """The Spark schema recorded in the first data file's footer, read on
    the driver with pyarrow; None when there is no such file (a directory
    partitioned into subdirectories) or no such key (a file Spark did not
    write)."""
    files = part_files(table_dir)
    if not files:
        return None
    import pyarrow.parquet as pq

    raw = (pq.read_metadata(files[0]).metadata or {}).get(SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw else None


class TableStore:
    def __init__(self, root: str, table_format: str = "parquet") -> None:
        self.root = root
        self.table_format = table_format
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest (the SQLite-ledger analog, reference index.py:314-401) ----
    def manifest(self) -> dict:
        """Unreadable/corrupt manifest degrades to empty (= recompute all
        stages) — a resumable pipeline must never be un-runnable because its
        checkpoint metadata was damaged. Our own writes are atomic
        (tmp + os.replace), so this only triggers on external damage."""
        if os.path.exists(self._manifest_path):
            try:
                with open(self._manifest_path) as f:
                    return json.load(f)
            except (json.JSONDecodeError, OSError) as e:
                import warnings

                warnings.warn(
                    f"corrupt stage manifest {self._manifest_path} "
                    f"({e}); recomputing all stages"
                )
        return {"stages": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def stage_complete(self, stage: str, fingerprint: str) -> bool:
        entry = self.manifest()["stages"].get(stage)
        return bool(
            entry
            and entry.get("status") == "complete"
            and entry.get("fingerprint") == fingerprint
        )

    def mark_complete(self, stage: str, fingerprint: str, **meta) -> None:
        m = self.manifest()
        m["stages"][stage] = {
            "status": "complete",
            "fingerprint": fingerprint,
            "completed_at": time.time(),
            **meta,
        }
        self._write_manifest(m)

    # -- tables --------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str) -> None:
        if self.table_format == "iceberg":
            df.writeTo(table).createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self.path(table))

    def _swap_lock(self, final: str):
        """Exclusive advisory lock guarding the swap-window state of one
        table dir. ``fcntl.flock`` (POSIX; Spark's platform) gives the two
        properties a bare lock FILE cannot: acquisition is ATOMIC with the
        writer's rename pair (no exists()-then-act window), and a crashed
        holder releases automatically (the OS drops flocks at process
        death), so no staleness timer is needed. The lock file itself is
        NEVER unlinked — deleting it would let a later writer lock a fresh
        inode while a reader still holds the old one (two `locks`, zero
        exclusion)."""
        import contextlib
        import fcntl

        @contextlib.contextmanager
        def cm():
            with open(final + ".__swap_lock", "a") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(f, fcntl.LOCK_UN)

        return cm()

    def replace(self, df: DataFrame, table: str) -> None:
        """Replace a table whose CURRENT contents feed ``df``'s plan (the
        incremental-apply shape: new = old minus stale plus fresh). A direct
        overwrite would truncate the input mid-read, so: write to a staging
        dir, then swap directories. With Iceberg this is simply
        createOrReplace (snapshot isolation).

        Cross-process safety for the parquet backend: the rename pair runs
        under the flock of ``_swap_lock``, and ``_heal`` takes the SAME
        flock before deciding anything — a concurrent reader (e.g.
        scripts/serve.py against a dir a streaming writer maintains) can
        therefore never observe the mid-swap window, let alone rename
        ``.__old`` back into the writer's path. Multi-WRITER is still out
        of scope for parquet dirs — use the Iceberg backend for that."""
        if self.table_format == "iceberg":
            df.writeTo(table).createOrReplace()
            return
        import shutil

        final = self.path(table)
        staging = final + ".__staging"
        df.write.mode("overwrite").parquet(staging)
        old = final + ".__old"
        if os.path.exists(old):
            shutil.rmtree(old)
        with self._swap_lock(final):
            if os.path.exists(final):
                os.replace(final, old)
            os.replace(staging, final)
        if os.path.exists(old):
            shutil.rmtree(old)

    def _heal(self, table: str) -> None:
        """Recover from a crash inside replace(): if the final dir is gone
        but the displaced previous version (.__old) survives, restore it —
        the swap window (final renamed away, staging not yet renamed in)
        must never lose the table.

        The check-and-restore runs under the writer's flock, so a live
        writer blocks us for the ~ms rename pair and we then re-check the
        (now consistent) state; a crashed writer's lock was auto-released.
        Concurrent healers serialize on the same flock — the second one
        finds the table already restored and no-ops."""
        final = self.path(table)
        old = final + ".__old"
        if not os.path.exists(old):
            return  # fast path: no crash evidence, skip the lock entirely
        with self._swap_lock(final):
            if not os.path.exists(final) and os.path.exists(old):
                os.replace(old, final)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The table as a DataFrame. A parquet table is read with the schema
        in its own footer (``footer_schema``), so the read plans without a
        schema-inference job; without one, Spark infers the schema as
        usual."""
        if self.table_format == "iceberg":
            return spark.read.table(table)
        self._heal(table)
        path = self.path(table)
        schema = footer_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)

    def exists(self, table: str, spark: SparkSession | None = None) -> bool:
        if self.table_format == "iceberg":
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                return False  # can't verify -> force recompute, never lie
            return spark.catalog.tableExists(table)
        self._heal(table)
        return os.path.exists(os.path.join(self.path(table), "_SUCCESS"))
