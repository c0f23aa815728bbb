"""Seeded drop generator with an exact expected-state model.

Drops follow the engine's input contract: parquet, GZIP, millisecond
timestamps, and an ``op`` column (I/U/D) on CDC drops. Every drop the
generator hands out is applied to the in-memory model first, so after each
commit the model says exactly what the committed table must hold, and how many
rows the commit inserted and hard-deleted.

Keys are dense int64 ids: the model stores each column as a numpy array
indexed by id, plus ``present`` (row exists in the table) and ``deleted``
(soft-deleted, snapshot feeds only).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_MS = 86_400_000
#: 2026-01-01T00:00:00Z in epoch milliseconds.
BASE_MS = 1_767_225_600_000
STATUSES = np.array(["new", "open", "pending", "won", "lost", "closed"])
PAYLOAD = ("account_id", "name", "status", "amount", "score", "quantity")
#: Column order of every drop (the ``op`` column is appended on CDC drops).
COLUMNS = ("id", "account_id", "updated_at") + PAYLOAD[1:]


@dataclass
class DropStats:
    """What one drop does to the table, from the model."""

    source_rows: int
    change_rows: int  # I+U+D rows after classification / dedup
    inserted: int
    updated: int
    deleted: int  # soft deletes (snapshot) or hard deletes (CDC)
    hard_deleted: int


class TableModel:
    """Columnar expected state of one keyed table."""

    def __init__(self, capacity: int):
        self.present = np.zeros(capacity, dtype=bool)
        self.deleted = np.zeros(capacity, dtype=bool)
        self.updated_at = np.zeros(capacity, dtype=np.int64)
        self.cols = {
            "account_id": np.zeros(capacity, dtype=np.int32),
            "name": np.zeros(capacity, dtype=np.int64),
            "status": np.zeros(capacity, dtype=np.int8),
            "amount": np.zeros(capacity, dtype=np.float64),
            "score": np.zeros(capacity, dtype=np.float64),
            "quantity": np.zeros(capacity, dtype=np.int32),
        }

    def grow(self, capacity: int) -> None:
        if capacity <= len(self.present):
            return
        extra = capacity - len(self.present)

        def pad(a):
            return np.concatenate([a, np.zeros(extra, dtype=a.dtype)])

        self.present, self.deleted = pad(self.present), pad(self.deleted)
        self.updated_at = pad(self.updated_at)
        self.cols = {k: pad(v) for k, v in self.cols.items()}

    def put(self, ids: np.ndarray, ts: np.ndarray, payload: dict) -> None:
        self.grow(int(ids.max()) + 1 if len(ids) else 0)
        self.updated_at[ids] = ts
        for k, v in payload.items():
            self.cols[k][ids] = v

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.present & ~self.deleted)

    def table(self, with_deleted_flag: bool) -> pa.Table:
        """The committed table the model expects, without ``ingestion_datetime``."""
        ids = np.flatnonzero(self.present)
        t = rows_table(ids, self.updated_at[ids], {k: v[ids] for k, v in self.cols.items()})
        if with_deleted_flag:
            t = t.append_column("hard_deleted", pa.array(self.deleted[ids]))
        return t


def random_payload(rng: np.random.Generator, n: int) -> dict:
    return {
        "account_id": rng.integers(0, 50_000, n, dtype=np.int32),
        "name": rng.integers(0, 1 << 40, n, dtype=np.int64),
        "status": rng.integers(0, len(STATUSES), n, dtype=np.int8),
        "amount": np.round(rng.random(n) * 10_000, 2),
        "score": rng.random(n),
        "quantity": rng.integers(0, 1_000, n, dtype=np.int32),
    }


def rows_table(ids: np.ndarray, ts: np.ndarray, payload: dict) -> pa.Table:
    names = pc.binary_join_element_wise(
        "acct-", pa.array(payload["name"]).cast(pa.string()), ""
    )
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "account_id": pa.array(payload["account_id"], pa.int32()),
            "updated_at": pa.array(ts, pa.int64()).cast(pa.timestamp("ms")),
            "name": names,
            "status": pa.array(STATUSES[payload["status"]]),
            "amount": pa.array(payload["amount"], pa.float64()),
            "score": pa.array(payload["score"], pa.float64()),
            "quantity": pa.array(payload["quantity"], pa.int32()),
        }
    )


def write_drop(table: pa.Table, path: str) -> None:
    """Write a drop as a directory of GZIP parquet parts, one per core, in
    parallel (GZIP is slow to write, and drops are written between timed
    operations)."""
    os.makedirs(path)
    parts = os.cpu_count() or 1
    step = -(-table.num_rows // parts)
    with ThreadPoolExecutor(parts) as pool:
        futures = [
            pool.submit(pq.write_table, table.slice(i * step, step),
                        os.path.join(path, f"part-{i:05d}.parquet"), compression="gzip")
            for i in range(parts)
        ]
        for f in futures:
            f.result()


class SnapshotFeed:
    """AppFlow/Salesforce shape: every drop is the full current snapshot.

    Per drop, of the live rows: ~1% updated with a strictly newer timestamp,
    ~0.5% touched (payload changed, same timestamp: not an update under the
    strict ``>`` rule), ~0.5% deleted (absent from the snapshot; soft-deleted
    by the engine with ``keep_deletes``), plus ~0.5% new keys inserted.
    """

    UPDATE, TOUCH, DELETE, INSERT = 0.01, 0.005, 0.005, 0.005

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng(seed)
        self.model = TableModel(rows)
        self.next_id = rows
        ids = np.arange(rows, dtype=np.int64)
        ts = BASE_MS + self.rng.integers(0, DAY_MS, rows)
        self.model.present[:] = True
        self.model.put(ids, ts, random_payload(self.rng, rows))
        self.day = 0

    def first_drop(self) -> tuple[pa.Table, DropStats]:
        ids = self.model.live_ids()
        t = self._rows(ids)
        return t, DropStats(len(ids), len(ids), len(ids), 0, 0, 0)

    def _rows(self, ids: np.ndarray) -> pa.Table:
        m = self.model
        return rows_table(ids, m.updated_at[ids], {k: v[ids] for k, v in m.cols.items()})

    def next_drop(self) -> tuple[pa.Table, DropStats]:
        rng, m = self.rng, self.model
        self.day += 1
        live = m.live_ids()
        n = len(live)
        picked = rng.permutation(live)
        n_del, n_upd, n_touch = int(n * self.DELETE), int(n * self.UPDATE), int(n * self.TOUCH)
        gone = picked[:n_del]
        upd = picked[n_del : n_del + n_upd]
        touch = np.sort(picked[n_del + n_upd : n_del + n_upd + n_touch])
        n_ins = int(n * self.INSERT)
        new = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins

        m.deleted[gone] = True
        day_ms = BASE_MS + self.day * DAY_MS
        m.put(upd, np.maximum(m.updated_at[upd] + 1, day_ms + rng.integers(0, DAY_MS, n_upd)),
              random_payload(rng, n_upd))
        m.grow(self.next_id)
        m.present[new] = True
        m.put(new, day_ms + rng.integers(0, DAY_MS, n_ins), random_payload(rng, n_ins))

        # The snapshot is the model's live state, except that touched rows carry
        # a changed payload with their old timestamp, which the engine ignores.
        ids = m.live_ids()
        payload = {k: v[ids].copy() for k, v in m.cols.items()}
        pos = np.searchsorted(ids, touch)
        for k, v in random_payload(rng, len(touch)).items():
            payload[k][pos] = v
        t = rows_table(ids, m.updated_at[ids], payload)
        stats = DropStats(
            source_rows=len(ids),
            change_rows=n_ins + n_upd + n_del,
            inserted=n_ins,
            updated=n_upd,
            deleted=n_del,
            hard_deleted=0,
        )
        return t, stats


class CdcFeed:
    """DMS shape: each drop is a batch of change rows with an ``op`` column.

    Per drop, ~0.5% of the live keys are touched with 1-3 versions each, with
    strictly increasing timestamps per key. Touched keys are mostly present
    ones (updates, deletes, and delete-then-re-insert within the batch), plus
    absent ones: fresh inserts, re-inserts of keys deleted by an earlier drop,
    and deletes of keys that do not exist.
    """

    TOUCH = 0.005

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng(seed)
        self.model = TableModel(rows)
        self.next_id = rows
        ids = np.arange(rows, dtype=np.int64)
        self.model.present[:] = True
        self.model.put(ids, BASE_MS + self.rng.integers(0, DAY_MS, rows),
                       random_payload(self.rng, rows))
        self.day = 0

    def first_drop(self) -> tuple[pa.Table, DropStats]:
        m = self.model
        ids = m.live_ids()
        t = rows_table(ids, m.updated_at[ids], {k: v[ids] for k, v in m.cols.items()})
        t = t.append_column("op", pa.array(np.full(len(ids), "I")))
        return t, DropStats(len(ids), len(ids), len(ids), 0, 0, 0)

    def next_drop(self) -> tuple[pa.Table, DropStats]:
        rng, m = self.rng, self.model
        self.day += 1
        live = m.live_ids()
        n_keys = max(1, int(len(live) * self.TOUCH))
        n_absent = max(1, n_keys // 10)
        present_keys = rng.choice(live, n_keys - n_absent, replace=False)
        dead = np.flatnonzero(~m.present[: self.next_id])
        n_re = min(len(dead), n_absent // 2)
        reinsert = rng.choice(dead, n_re, replace=False) if n_re else np.empty(0, np.int64)
        fresh = np.arange(self.next_id, self.next_id + n_absent - n_re, dtype=np.int64)
        self.next_id += len(fresh)
        m.grow(self.next_id)
        keys = np.concatenate([present_keys, reinsert, fresh]).astype(np.int64)
        was_present = m.present[keys].copy()

        # Ops per key: a present key takes U/D, an absent one I/D; a D is
        # followed by I (re-insert) and an I by U.
        n_ver = rng.integers(1, 4, len(keys))
        key_col, op_col = [], []
        for k, present, nv in zip(keys, was_present, n_ver):
            alive = bool(present)
            for _ in range(nv):
                if alive:
                    op = "D" if rng.random() < 0.2 else "U"
                else:
                    op = "I" if rng.random() < 0.75 else "D"
                alive = op != "D"
                key_col.append(k)
                op_col.append(op)
        key_arr = np.array(key_col, dtype=np.int64)
        ops = np.array(op_col)
        n = len(key_arr)
        # strictly increasing per key: versions are generated in order, so a
        # running offset within the day keeps them distinct and ordered
        ts = BASE_MS + self.day * DAY_MS + np.arange(n, dtype=np.int64) * 7 + rng.integers(0, 7, n)
        payload = random_payload(rng, n)
        t = rows_table(key_arr, ts, payload).append_column("op", pa.array(ops))

        # latest version per key decides the final state
        last = np.zeros(len(key_arr), dtype=bool)
        last[:-1] = key_arr[1:] != key_arr[:-1]
        last[-1] = True
        lk, lops = key_arr[last], ops[last]
        alive_after = lops != "D"
        m.put(lk[alive_after], ts[last][alive_after],
              {k: v[last][alive_after] for k, v in payload.items()})
        m.present[lk] = alive_after
        inserted = int((~was_present & alive_after).sum())
        hard_deleted = int((was_present & ~alive_after).sum())
        updated = int((was_present & alive_after).sum())
        stats = DropStats(
            source_rows=n,
            change_rows=len(lk),
            inserted=inserted,
            updated=updated,
            deleted=hard_deleted,
            hard_deleted=hard_deleted,
        )
        return t, stats
