"""The benchmark's workloads.

Each workload builds its starting state in ``setup`` and then runs a fixed
amount of work, derived from ``--seconds``, in ``run``. Every call into the
engine goes through its public API and runs inside a span; ``run_s`` is the
sum of the timed operations' spans, so input generation and the benchmark's
own checks between operations are never timed.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_ingestion_spark.changes import dedup_latest, stamp_audit
from iceberg_ingestion_spark.jobs import IngestionJob
from iceberg_ingestion_spark.merge import merge_dataframes, merge_snapshot_fused
from iceberg_ingestion_spark.model import (
    HARD_DELETED_COL,
    ChangeSpec,
    IngestionType,
    MergeOptions,
    OptimizeMode,
    TablePolicy,
)
from iceberg_ingestion_spark.sinks import ParquetVersionedSink

import checks
from feeds import CdcFeed, SnapshotFeed, write_drop
from spans import TracedSink

SPEC = ChangeSpec(("id",), ("updated_at",))
#: Rows of the small table the ingest workloads run their lifecycle on first,
#: so that plan code is generated and JIT-compiled before anything is timed.
WARM_ROWS = 5_000
#: The first load lands two days before a month start, so the second drop's
#: ``maintain`` compacts.
FIRST_LOAD_DATE = datetime(2026, 1, 30, 2, 0)


class Bench:
    """State of one benchmark run: session, tracer, sink and the ledger of
    operations and correctness checks."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, seconds: int, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.raw_sink = ParquetVersionedSink(spark, self.warehouse)
        self.sink = TracedSink(self.raw_sink, tracer)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.values: dict[str, float] = {}
        self.first_loads: list[dict] = []  # spans, one per set-up repeat
        self.commits: list[dict] = []  # one per merge commit
        self.maintain_spans: set[int] = set()  # one per ``maintain`` after a merge

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def op(self, name: str, fn, *args, timed: bool = True):
        """One engine operation, in a span; ``timed`` ones make up ``run_s``."""
        self.attempted += 1
        with self.tracer.span(name, timed=timed):
            return fn(*args)

    def table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, *name.split("."))

    def drop_path(self, label: str) -> str:
        d = os.path.join(self.work_dir, "drops")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{label}.parquet")

    def read_drop(self, path: str):
        return self.spark.read.parquet(path)


class Ingest:
    """First load, then a run of drops through ``IngestionJob.run`` and
    ``maintain``, each commit checked against the feed's model."""

    feed_cls = SnapshotFeed
    ingestion_type = IngestionType.FULL
    policy = TablePolicy()
    options = MergeOptions()
    rows = 0
    drops_per_second = 0.0
    warm = True
    #: first loads into fresh tables; ``first_load_s`` is their median
    setup_repeats = 3

    def __init__(self, bench: Bench):
        self.b = bench
        self.job = IngestionJob(bench.sink, SPEC, self.policy, self.options)
        self.date = FIRST_LOAD_DATE
        self.rows_now = 0
        self.step = 0

    # -- set-up ----------------------------------------------------------------

    def warm_up(self) -> None:
        """First load, then a merge and a compaction on a small table, untraced
        and unchecked."""
        b = self.b
        feed = self.feed_cls(b.seed + 1, WARM_ROWS)
        job = IngestionJob(b.raw_sink, SPEC, self.policy, self.options)
        date = FIRST_LOAD_DATE + timedelta(days=1)  # the merge lands on a month start
        for step in range(2):
            table = (feed.next_drop() if step else feed.first_drop())[0]
            path = b.drop_path(f"warm-{step}")
            write_drop(table, path)
            job.run(b.read_drop(path), "warm.t", self.ingestion_type, date)
            job.maintain("warm.t", date)
            date += timedelta(days=1)

    def setup(self) -> None:
        """Warm up, generate the first drop, then first-load it into
        ``setup_repeats`` fresh tables; the workload goes on with the last one."""
        b = self.b
        if self.warm:
            self.warm_up()
        self.feed = self.feed_cls(b.seed, self.rows)
        table, stats = self.feed.first_drop()
        path = b.drop_path("first")
        write_drop(table, path)
        loads = []
        for i in range(self.setup_repeats):
            self.name = f"bench.t{i}"
            self.rows_now = 0
            with b.tracer.span("jobs.run", kind="first_load") as s:
                b.attempted += 1
                self.job.run(b.read_drop(path), self.name, self.ingestion_type, self.date)
            loads.append(s)
            self.check_commit(stats.inserted, 0, 1)
        b.first_loads = loads

    # -- the lifecycle -----------------------------------------------------------

    def n_drops(self) -> int:
        return max(4, round(self.b.seconds * self.drops_per_second))

    def drop(self, timed: bool) -> None:
        """Generate the next drop, merge it, check the commit, maintain."""
        b = self.b
        self.step += 1
        self.date += timedelta(days=1)
        table, stats = self.feed.next_drop()
        path = b.drop_path(f"{self.name}-{self.step}")
        write_drop(table, path)
        source = b.read_drop(path)
        version = checks.snapshot_log(b.table_dir(self.name))["current"]
        with b.tracer.span("jobs.run", kind="merge", timed=timed) as span:
            b.attempted += 1
            self.job.run(source, self.name, self.ingestion_type, self.date)
        commit = self.check_commit(stats.inserted, stats.hard_deleted, version + 1)
        commit.update(span=span["id"], change_rows=stats.change_rows,
                      source_rows=stats.source_rows, inserted=stats.inserted,
                      updated=stats.updated, deleted=stats.deleted, version=version + 1)
        b.commits.append(commit)
        if b.traced and timed:
            # after the merge, so that it does not compile the merge's code first
            self.classify(b.sink.read_version(self.name, version), source)
        with b.tracer.span("jobs.maintain", timed=timed) as span:
            b.attempted += 1
            self.job.maintain(self.name, self.date)
        b.maintain_spans.add(span["id"])
        if self.date.day == 1:
            b.values["compact_bytes"] = self.check_commit(0, 0, version + 2)["bytes"]

    def run(self) -> None:
        for _ in range(self.n_drops()):
            self.drop(timed=True)
        self.finish()

    def finish(self) -> None:
        """Whole-table checks and storage accounting, after the last commit."""
        b = self.b
        tdir = b.table_dir(self.name)
        vdir = checks.version_dir(tdir)
        expected = self.feed.model.table(with_deleted_flag=self.options.keep_deletes)
        b.check(checks.bag_mismatch(vdir, expected) == 0, f"{self.name}: not bag-equal to model")
        live = checks.version_bytes(vdir)[0]
        stored = checks.unique_inode_bytes(tdir)
        b.values["live_bytes"] = live
        b.values["table_bytes"] = stored
        b.values["versions"] = len(checks.snapshot_log(tdir)["snapshots"])
        b.values["stored_bytes_per_live_byte"] = stored / live

    def check_commit(self, inserted: int, hard_deleted: int, version: int) -> dict:
        """Row conservation from parquet footers: rows(v) = rows(v-1) +
        inserted - hard_deleted, and the version advanced to ``version``."""
        tdir = self.b.table_dir(self.name)
        log = checks.snapshot_log(tdir)
        vdir = checks.version_dir(tdir)
        rows = checks.footer_rows(vdir)
        want = self.rows_now + inserted - hard_deleted
        self.b.check(log["current"] == version, f"{self.name}: at v{log['current']}, want v{version}")
        self.b.check(rows == want, f"{self.name} v{log['current']}: {rows} rows, want {want}")
        self.rows_now = rows
        nbytes, nfiles = checks.version_bytes(vdir)
        return {"bytes": nbytes, "files": nfiles, "rows": rows}

    def classify(self, target, source) -> None:
        """Traced runs only: the merge's classify-and-apply plan on the
        version the merge read, materialized to the noop sink with no commit."""
        raise NotImplementedError


class SnapshotDaily(Ingest):
    feed_cls = SnapshotFeed
    ingestion_type = IngestionType.FULL
    policy = TablePolicy()
    options = MergeOptions(keep_deletes=True)
    rows = 120_000
    drops_per_second = 0.6

    def classify(self, target, source) -> None:
        plan = merge_snapshot_fused(
            target, source, SPEC, options=self.options,
            ingestion_ts=self.date, include_deletes=True, keep_deletes=True,
            soft_delete_col=HARD_DELETED_COL,
        )
        with self.b.tracer.span("merge.classify"):
            plan.write.format("noop").mode("overwrite").save()


class CdcTrickle(Ingest):
    feed_cls = CdcFeed
    ingestion_type = IngestionType.CDC
    policy = TablePolicy(optimize=OptimizeMode.STORAGE, bucket_by=("id",), n_buckets=16)
    options = MergeOptions()
    rows = 150_000
    drops_per_second = 0.6

    def classify(self, target, source) -> None:
        changes = stamp_audit(dedup_latest(source, SPEC), self.date)
        plan = merge_dataframes(target, changes, SPEC)
        with self.b.tracer.span("merge.classify"):
            plan.write.format("noop").mode("overwrite").save()


class TableReads(CdcTrickle):
    """A table with history built by the engine (same feed and policy as
    ``cdc_trickle``); the timed region is a seeded mix of reads."""

    rows = 60_000
    history = 8
    warm = False  # the history merges warm the JVM instead
    rounds_per_second = 0.2  # timed read rounds per second of --seconds
    lookups_per_round = 4
    lookup_width = 200

    def setup(self) -> None:
        """First loads, then ``history`` drops and maintenance, then one read
        round that warms the read plans."""
        b = self.b
        super().setup()
        self.version_rows = {1: self.rows_now}
        self.merges: list[dict] = []
        for _ in range(self.history):
            self.drop(timed=False)
            c = b.commits[-1]
            self.version_rows[c["version"]] = c["rows"]
            self.merges.append(c)
        tdir = b.table_dir(self.name)
        self.current = checks.snapshot_log(tdir)["current"]
        for v in range(1, self.current + 1):
            self.version_rows.setdefault(v, self.version_rows.get(v - 1))
        expected = self.feed.model.table(with_deleted_flag=False)
        self.expected_path = b.drop_path("expected")
        pq.write_table(expected, self.expected_path)
        self.expected_src = b.read_drop(self.expected_path)
        self.live_ids = np.sort(expected.column("id").to_numpy())
        self.rng = np.random.default_rng(b.seed + 1)
        self.read_round(timed=False)

    def run(self) -> None:
        for _ in range(max(2, round(self.b.seconds * self.rounds_per_second))):
            self.read_round(timed=True)
        self.finish()

    def read_round(self, timed: bool) -> None:
        """A full scan, key-range lookups, a time-travel scan, a changelog scan
        and an equivalence test, each checked against the model."""
        b, rng = self.b, self.rng
        n = b.op("reads.scan", full_scan, b.sink.read(self.name), timed=timed)
        b.check(n == len(self.live_ids), f"scan: {n} rows, want {len(self.live_ids)}")
        top = int(self.live_ids[-1])
        for _ in range(self.lookups_per_round):
            lo = int(rng.integers(0, top - self.lookup_width))
            hi = lo + self.lookup_width - 1
            df = b.sink.read(self.name).filter(F.col("id").between(lo, hi))
            with b.tracer.span("reads.lookup", timed=timed) as span:
                b.attempted += 1
                got = sorted(r.id for r in df.collect())
            span["rows"] = len(got)
            want = self.live_ids[np.searchsorted(self.live_ids, lo):
                                 np.searchsorted(self.live_ids, hi, side="right")]
            b.check(got == want.tolist(), f"lookup [{lo},{hi}]: ids differ")
        old = int(rng.integers(1, self.current))
        n = b.op("reads.time_travel", full_scan, b.sink.read_version(self.name, old), timed=timed)
        b.check(n == self.version_rows[old], f"v{old}: {n} rows, want {self.version_rows[old]}")
        c = self.merges[int(rng.integers(0, len(self.merges)))]
        df = b.sink.read_changes(self.name, c["version"] - 1, c["version"], ["id"])
        n = b.op("reads.changelog", DataFrame.count, df, timed=timed)
        want = c["inserted"] + c["deleted"] + 2 * c["updated"]
        b.check(n == want, f"changelog v{c['version']}: {n} rows, want {want}")
        diff = b.op("jobs.test", self.job.test, self.expected_src, self.name, timed=timed)
        b.check(diff == 0, f"test: diff_count={diff}")


def full_scan(df) -> int:
    """Read every column of every row; returns the row count."""
    return df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()[0]


WORKLOADS = {
    "snapshot_daily": SnapshotDaily,
    "cdc_trickle": CdcTrickle,
    "table_reads": TableReads,
}
