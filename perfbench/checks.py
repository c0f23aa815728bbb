"""Correctness checks and on-disk accounting, all made outside the engine.

The committed table is read straight from the files of its version
directory: row counts from parquet footers, content through DuckDB.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def snapshot_log(table_dir: str) -> dict:
    """The sink's commit log: ``{"current": N, "snapshots": [...]}``."""
    with open(os.path.join(table_dir, "_snapshots.json")) as f:
        return json.load(f)


def version_dir(table_dir: str, version: int | None = None) -> str:
    """Directory of ``version`` (default: the current one)."""
    if version is None:
        version = snapshot_log(table_dir)["current"]
    return os.path.join(table_dir, f"v_{version:05d}")


def data_files(vdir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(vdir):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def footer_rows(vdir: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(vdir))


def version_bytes(vdir: str) -> tuple[int, int]:
    """(bytes, files) of a version directory's data files."""
    files = data_files(vdir)
    return sum(os.path.getsize(f) for f in files), len(files)


def unique_inode_bytes(path: str) -> int:
    """Bytes under ``path``, each inode counted once (hard links share one)."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(root, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def bag_mismatch(vdir: str, expected: pa.Table) -> int:
    """Rows in the symmetric bag difference between the committed version and
    ``expected``, ignoring ``ingestion_datetime``. 0 means equal."""
    files = data_files(vdir)
    if not files:
        return expected.num_rows
    cols = [c for c in expected.column_names if c != "updated_at"]
    proj = ", ".join(cols + ["epoch_ms(updated_at) AS updated_at"])
    con = duckdb.connect()
    try:
        con.register("expected", expected)
        file_list = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
        committed = f"(SELECT {proj} FROM read_parquet({file_list}))"
        exp = f"(SELECT {proj} FROM expected)"
        return con.execute(
            f"SELECT (SELECT count(*) FROM ({committed} EXCEPT ALL {exp})) + "
            f"(SELECT count(*) FROM ({exp} EXCEPT ALL {committed}))"
        ).fetchone()[0]
    finally:
        con.close()
