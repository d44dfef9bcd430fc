"""Per-layer metrics of a traced run.

Every workload reports the full set named in BENCHMARK.json; a layer the
workload does not exercise reports 0 (the bypass side of each pairing).
Span self times come from ``spans.Tracer``; task, stage and scan metrics
from the Spark event log, attributed to spans through their job groups.
"""

from __future__ import annotations

import os
import statistics

from spans import median0 as _med
from spans import parse_event_log
from wl_query import CORPUS, REL
from wl_table import COMMIT_KINDS

SPAN_KINDS = ("sync_view", "events_view", "rel", "corpus", "commit", "read")
SPARK_METRICS = ("tasks", "task_failures", "executor_run_s", "gc_s", "task_wait_s",
                 "core_busy_frac", "shuffle_write_bytes", "spill_bytes", "output_bytes")

# per-layer metric name -> unit (the order of BENCHMARK.json's per_layer)
UNITS: dict[str, str] = {
    "session.create_s": "s", "session.warmup_s": "s", "session.clear_cache_s": "s",
    "session.jvm_peak_rss_mb": "MiB", "session.py_peak_rss_mb": "MiB",
    "shim.decode_s": "s", "shim.filtered_frac": "ratio",
    "json_ingest.build_s": "s", "json_ingest.exec_s": "s", "json_ingest.pings_failed": "count",
    "json_ingest.syncs_rejected": "count", "json_ingest.rows_per_ping": "ratio",
    "jobs.run_daily_s.nested_sync": "s", "jobs.run_daily_s.flat_sync": "s",
    "jobs.run_daily_s.events": "s", "writers.write_s": "s", "writers.files_written": "count",
    "writers.bytes_per_ping": "B", "writers.rerun_day_s": "s",
    "queries.build_s.rel": "s", "queries.build_s.corpus": "s",
    "queries.exec_s.rel": "s", "queries.exec_s.corpus": "s",
    **{f"queries.{q}.exec_s": "s" for q in REL + CORPUS},
    "datapipe.lsh_precision": "ratio", "datapipe.lsh_recall": "ratio",
    "sql_front.route_s": "s", "sql_front.exec_s": "s",
    **{f"snapshots.{k}_s": "s" for k in COMMIT_KINDS},
    "snapshots.bytes_rewritten": "B", "snapshots.files_live": "count",
    "snapshots.dv_files": "count", "snapshots.manifest_bytes": "B",
    "snapshots.write_amp": "ratio", "snapshots.space_amp": "ratio",
    "scan.files_read_frac": "ratio",
    "result_cache.hit_ratio": "ratio", "result_cache.hit_s": "s", "result_cache.miss_s": "s",
    "views.mv_answered_frac": "ratio",
    **{f"spark.{k}.{m}": ("count" if m in ("tasks", "task_failures") else
                          "B" if m.endswith("bytes") else "ratio" if m.endswith("frac") else "s")
       for k in SPAN_KINDS for m in SPARK_METRICS},
    "trace.overhead_s": "s",
}


def per_layer(ctx, layer: dict, setup: dict, mem: dict, untraced_unit: list[float]) -> dict:
    """``layer`` is the workload's own figures from the traced pass;
    ``setup`` the cold set-up's parts; ``untraced_unit`` the operation
    times of the untraced pass that followed the traced one."""
    tr = ctx.tracer
    out = {name: 0.0 for name in UNITS}
    du = tr.durations()
    out["session.create_s"] = setup["create_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["session.jvm_peak_rss_mb"] = mem["jvm_peak_rss_mb"]
    out["session.py_peak_rss_mb"] = mem["py_peak_rss_mb"]
    out["session.clear_cache_s"] = _med(du.get("session.clear_cache"))
    out.update(layer)
    # spark runtime, per top-level span kind
    ctx.spark.stop()  # flushes the event log
    ctx.spark = None
    log = parse_event_log(os.path.join(ctx.root, "eventlog"), tr.spans)
    cores = os.cpu_count() or 1
    wall: dict[str, float] = {}
    for s in tr.spans:
        if s["parent"] is None:
            wall[s.get("kind", s["name"])] = wall.get(s.get("kind", s["name"]), 0.0) + (
                s["end"] - s["start"])
    for kind in SPAN_KINDS:
        agg = log["by_kind"].get(kind, {})
        for m in SPARK_METRICS:
            out[f"spark.{kind}.{m}"] = float(agg.get(m, 0.0))
        if wall.get(kind):
            out[f"spark.{kind}.core_busy_frac"] = agg.get("executor_run_s", 0.0) / (
                wall[kind] * cores)
    out["scan.files_read_frac"] = files_read_frac(log["files_read"], tr.spans)
    # both passes ran the same operations in the same session: the mean
    # operation time traced (spans, job groups, noop pre-materialization)
    # minus untraced
    out["trace.overhead_s"] = statistics.fmean(ctx.samples["unit"]) - statistics.fmean(
        untraced_unit)
    return {k: (v, UNITS[k]) for k, v in out.items()}


def files_read_frac(files_read: dict[str, float], spans: list[dict]) -> float:
    """Median over lookups of the files their scans read over the files
    live then (the ``files_live`` of a lookup's span)."""
    root_of = {}
    for s in spans:
        r = s
        while r["parent"] is not None:
            r = spans[r["parent"]]
        root_of[f"span-{s['id']}"] = r["id"]
    read: dict[int, float] = {}
    for grp, n in files_read.items():
        read[root_of[grp]] = read.get(root_of[grp], 0.0) + n
    return _med([read.get(s["id"], 0.0) / s["files_live"] for s in spans
                 if s.get("files_live")])
