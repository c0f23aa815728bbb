"""The benchmark's metrics, computed from a finished run.

End-to-end metrics come from span durations and on-disk counts; per-layer
metrics also use the Spark event log of a traced run, with each job
attributed to the span that started it. Layers are named after the engine's
modules; ``merge`` covers ``changes`` and ``merge`` together, because from
outside they share Spark stages.
"""

from __future__ import annotations

import statistics

#: name -> unit, in the order ``BENCHMARK.json`` lists them.
END_TO_END = {
    "setup_s": "s",
    "run_cpu_s": "s",
    "merge_cpu_p50_s": "s",
    "maintain_cpu_s": "s",
    "bytes_written_per_merge": "bytes",
    "stored_bytes_per_live_byte": "ratio",
}

PER_LAYER = {
    "wall.run_s": "s",
    "wall.first_load_s": "s",
    "wall.merge_p50_s": "s",
    "wall.maintain_s": "s",
    "jobs.first_load_cpu_s": "s",
    "session.start_s": "s",
    "session.gc_s": "s",
    "jobs.spark_jobs": "count",
    "jobs.stages": "count",
    "jobs.tasks": "count",
    "jobs.self_s": "s",
    "jobs.driver_gap_s": "s",
    "jobs.busy_frac": "ratio",
    "sources.files_read": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.scan_task_s": "s",
    "merge.shuffle_write_bytes": "bytes",
    "merge.shuffle_read_bytes": "bytes",
    "merge.shuffle_task_s": "s",
    "merge.spill_bytes": "bytes",
    "merge.classify_s": "s",
    "changes.change_rows": "count",
    "changes.useful_ratio": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.rows_written": "count",
    "sinks.rewrite_ratio": "ratio",
    "sinks.write_task_s": "s",
    "sinks.commit_tail_s": "s",
    "sinks.expire_s": "s",
    "sinks.orphans_s": "s",
    "sinks.compact_s": "s",
    "sinks.compact_bytes": "bytes",
    "sinks.versions": "count",
    "sinks.table_bytes": "bytes",
    "sinks.live_bytes": "bytes",
    "reads.scan_s": "s",
    "reads.lookup_p50_s": "s",
    "reads.time_travel_s": "s",
    "reads.changelog_s": "s",
    "sinks.files_per_lookup": "count",
    "sinks.bytes_per_lookup": "bytes",
    "sinks.rows_scanned_per_row_returned": "ratio",
    "sinks.changelog_shuffle_bytes": "bytes",
    "sinks.changelog_task_s": "s",
    "validate.validate_s": "s",
    "validate.diff_task_s": "s",
    "validate.shuffle_bytes": "bytes",
    "trace.run_cpu_s": "s",
}


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def timed(tracer, name: str | None = None) -> list[dict]:
    """Finished spans of the timed region, optionally only those named ``name``."""
    return [s for s in tracer.spans
            if s.get("timed") and "dur" in s and (name is None or s["name"] == name)]


def lifecycle(bench, key: str) -> dict[str, float]:
    """Totals and medians of one span measure (``dur``: wall seconds, ``cpu``:
    CPU seconds) over the timed region, the first loads, the merges and the
    measured ``maintain`` calls."""
    tr = bench.tracer
    return {
        "run": sum(s[key] for s in timed(tr)),
        "first_load": median(s[key] for s in bench.first_loads),
        "merge_p50": median(tr.spans[c["span"]][key] for c in bench.commits),
        "maintain": sum(tr.spans[i][key] for i in bench.maintain_spans),
    }


def end_to_end(bench, session_start: float, setup_wall: float) -> dict[str, float]:
    """``setup_s`` is session start plus the workload's set-up, with its
    repeated first load counted once, at the median."""
    loads = [s["dur"] for s in bench.first_loads]
    cpu = lifecycle(bench, "cpu")
    return {
        "setup_s": session_start + setup_wall - sum(loads) + median(loads),
        "run_cpu_s": cpu["run"],
        "merge_cpu_p50_s": cpu["merge_p50"],
        "maintain_cpu_s": cpu["maintain"],
        "bytes_written_per_merge": mean(c["bytes"] for c in bench.commits),
        "stored_bytes_per_live_byte": bench.values["stored_bytes_per_live_byte"],
    }


def per_layer(bench, log, session_start: float, gc_s: float, cores: int) -> dict[str, float]:
    tr, v = bench.tracer, bench.values
    m: dict[str, float] = {"session.start_s": session_start, "session.gc_s": gc_s}
    m.update({f"wall.{k}_s": x for k, x in lifecycle(bench, "dur").items()})
    m["jobs.first_load_cpu_s"] = lifecycle(bench, "cpu")["first_load"]

    def totals(spans):
        return [log.totals(tr.subtree(s["id"])) for s in spans]

    def under(name, roots):
        """Spans named ``name`` inside the subtrees of ``roots``."""
        ids = set().union(*(tr.subtree(s["id"]) for s in roots)) if roots else set()
        return [s for s in tr.spans if s["name"] == name and s["id"] in ids and "dur" in s]

    # per merge commit
    merge_spans = [tr.spans[c["span"]] for c in bench.commits]
    mt = totals(merge_spans)
    self_time = {s["id"]: s["self"] for s in tr.with_self_time()}
    m["jobs.spark_jobs"] = mean(t.jobs for t in mt)
    m["jobs.stages"] = mean(t.stages for t in mt)
    m["jobs.tasks"] = mean(t.tasks for t in mt)
    m["jobs.self_s"] = median(self_time[s["id"]] for s in merge_spans)
    m["jobs.driver_gap_s"] = median(s["dur"] - t.job_union_s for s, t in zip(merge_spans, mt))
    m["sources.files_read"] = mean(t.files_read for t in mt)
    m["sources.input_bytes"] = mean(t.file_bytes_read for t in mt)
    m["sources.input_rows"] = mean(t.input_rows for t in mt)
    m["sources.scan_task_s"] = mean(t.scan_task_s for t in mt)
    m["merge.shuffle_write_bytes"] = mean(t.shuffle_write_bytes for t in mt)
    m["merge.shuffle_read_bytes"] = mean(t.shuffle_read_bytes for t in mt)
    m["merge.shuffle_task_s"] = mean(t.shuffle_task_s for t in mt)
    m["merge.spill_bytes"] = mean(t.spill_bytes for t in mt)
    m["merge.classify_s"] = median(s["dur"] for s in tr.spans if s["name"] == "merge.classify")
    m["changes.change_rows"] = mean(c["change_rows"] for c in bench.commits)
    m["changes.useful_ratio"] = sum(c["change_rows"] for c in bench.commits) / max(
        1, sum(c["source_rows"] for c in bench.commits))
    m["sinks.bytes_written"] = mean(c["bytes"] for c in bench.commits)
    m["sinks.files_written"] = mean(c["files"] for c in bench.commits)
    m["sinks.rows_written"] = mean(c["rows"] for c in bench.commits)
    m["sinks.rewrite_ratio"] = sum(c["rows"] for c in bench.commits) / max(
        1, sum(c["change_rows"] for c in bench.commits))
    m["sinks.write_task_s"] = mean(t.write_task_s for t in mt)
    m["sinks.commit_tail_s"] = median(
        s["end"] - t.last_job_end for s, t in zip(merge_spans, mt) if t.last_job_end)

    # maintenance (the measured ``maintain`` calls) and storage
    maintain = [tr.spans[i] for i in sorted(bench.maintain_spans)]
    m["sinks.expire_s"] = sum(s["dur"] for s in under("sinks.expire_snapshots", maintain))
    m["sinks.orphans_s"] = sum(s["dur"] for s in under("sinks.remove_orphan_files", maintain))
    m["sinks.compact_s"] = sum(s["dur"] for s in under("sinks.rewrite_data_files", maintain))
    m["sinks.compact_bytes"] = v.get("compact_bytes", 0)
    m["sinks.versions"] = v["versions"]
    m["sinks.table_bytes"] = v["table_bytes"]
    m["sinks.live_bytes"] = v["live_bytes"]

    # reads (table_reads only; 0 where a workload makes none)
    m["reads.scan_s"] = median(s["dur"] for s in timed(tr, "reads.scan"))
    lookups = timed(tr, "reads.lookup")
    m["reads.lookup_p50_s"] = median(s["dur"] for s in lookups)
    m["reads.time_travel_s"] = median(s["dur"] for s in timed(tr, "reads.time_travel"))
    m["reads.changelog_s"] = median(s["dur"] for s in timed(tr, "reads.changelog"))
    lt = totals(lookups)
    m["sinks.files_per_lookup"] = mean(t.files_read for t in lt)
    m["sinks.bytes_per_lookup"] = mean(t.file_bytes_read for t in lt)
    m["sinks.rows_scanned_per_row_returned"] = sum(t.input_rows for t in lt) / max(
        1, sum(s["rows"] for s in lookups))
    ct = totals(timed(tr, "reads.changelog"))
    m["sinks.changelog_shuffle_bytes"] = mean(t.shuffle_write_bytes for t in ct)
    m["sinks.changelog_task_s"] = mean(t.run_s for t in ct)
    tests = timed(tr, "jobs.test")
    vt = totals(tests)
    m["validate.validate_s"] = median(s["dur"] for s in tests)
    m["validate.diff_task_s"] = mean(t.run_s for t in vt)
    m["validate.shuffle_bytes"] = mean(t.shuffle_write_bytes for t in vt)

    # the timed region as a whole
    task_s = sum(t.run_s for t in totals(timed(tr)))
    m["trace.run_cpu_s"] = sum(s["cpu"] for s in timed(tr))
    m["jobs.busy_frac"] = task_s / max(1e-9, m["wall.run_s"] * cores)
    return m
