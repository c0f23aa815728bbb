"""Fault injection for the benchmark's correctness checks.

A check that cannot fail proves nothing, so each fault below must make one
fail: a committed data file deleted, or one drop never applied. The first
tests build committed versions by hand from the model; the last ones run a
small workload through the engine and break it in between.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
from feeds import CdcFeed, SnapshotFeed  # noqa: E402


def commit_by_hand(model_table, vdir: str, parts: int = 2) -> None:
    """Write ``model_table`` as a version directory of ``parts`` files."""
    os.makedirs(vdir)
    step = -(-model_table.num_rows // parts)
    for i in range(parts):
        pq.write_table(model_table.slice(i * step, step), os.path.join(vdir, f"part-{i}.parquet"))


@pytest.mark.parametrize("feed_cls", [SnapshotFeed, CdcFeed])
def test_model_state_passes(tmp_path, feed_cls):
    feed = feed_cls(seed=3, rows=2_000)
    feed.next_drop()
    expected = feed.model.table(with_deleted_flag=False)
    vdir = str(tmp_path / "v")
    commit_by_hand(expected, vdir)
    assert checks.footer_rows(vdir) == expected.num_rows
    assert checks.bag_mismatch(vdir, expected) == 0


def test_deleted_data_file_fails(tmp_path):
    feed = CdcFeed(seed=3, rows=2_000)
    expected = feed.model.table(with_deleted_flag=False)
    vdir = str(tmp_path / "v")
    commit_by_hand(expected, vdir)
    os.remove(checks.data_files(vdir)[0])
    assert checks.footer_rows(vdir) != expected.num_rows
    assert checks.bag_mismatch(vdir, expected) > 0


@pytest.mark.parametrize("feed_cls", [SnapshotFeed, CdcFeed])
def test_dropped_drop_fails(tmp_path, feed_cls):
    feed = feed_cls(seed=3, rows=2_000)
    feed.next_drop()
    committed = feed.model.table(with_deleted_flag=True)
    feed.next_drop()  # generated and applied to the model, never committed
    vdir = str(tmp_path / "v")
    commit_by_hand(committed, vdir)
    assert checks.bag_mismatch(vdir, feed.model.table(with_deleted_flag=True)) > 0


# -- through the engine ---------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from iceberg_ingestion_spark.session import build_session

    import run

    work = str(tmp_path_factory.mktemp("spark"))
    session = build_session(app_name="perfbench-test", extra_conf=run.session_conf(work, None))
    yield session
    run.stop_session(session)


def small_workload(spark, tmp_path, base):
    from spans import Tracer
    from workloads import Bench

    bench = Bench(spark, Tracer(spark, "test", enabled=False), str(tmp_path), seed=5,
                  seconds=1, traced=False)
    workload = type("Small", (base,), {"rows": 2_000, "warm": False})(bench)
    workload.setup()
    return bench, workload


def break_second_merge(workload, fault):
    """Run ``fault(workload)`` in place of, or right after, the second merge."""
    real_run = workload.job.run
    merges = []

    def run(source, name, ingestion_type, ts):
        merges.append(name)
        if len(merges) == 2 and fault == "skip":
            return None
        real_run(source, name, ingestion_type, ts)
        if len(merges) == 2 and fault == "delete":
            vdir = checks.version_dir(workload.b.table_dir(name))
            os.remove(checks.data_files(vdir)[0])

    workload.job.run = run


@pytest.mark.parametrize("base", ["SnapshotDaily", "CdcTrickle"])
def test_engine_run_passes(spark, tmp_path, base):
    import workloads

    bench, workload = small_workload(spark, tmp_path, getattr(workloads, base))
    workload.run()
    assert bench.failed == 0, bench.failures
    assert len(bench.commits) >= 4


@pytest.mark.parametrize("fault", ["skip", "delete"])
def test_engine_fault_fails(spark, tmp_path, fault):
    import workloads

    bench, workload = small_workload(spark, tmp_path, workloads.CdcTrickle)
    break_second_merge(workload, fault)
    workload.run()
    assert bench.failed > 0
