"""etl_query_mix: the reference's daily view jobs, then report queries.

Each round runs one ETL day and two registered report queries, then the
day again and the other two queries. The ETL day runs the nested-sync,
flat-sync and events views through ``plans.jobs.run_daily``; each view's
pipeline is ``shim.load_exported`` ->
``shim.conjunctive_filter`` -> ``shim.decode_gzip_payloads`` (the repo's one
pandas UDF) -> a ``json_ingest`` view -> ``writers.write_partitioned``.
The queries (``wl_query``) read generated events and documents, and
exercise ``operators`` and ``datapipe``. Runs are whole rounds.
Every ETL day after the first re-runs the day over its existing partition
(the idempotent overwrite); the check finds exactly one copy.
"""

from __future__ import annotations

import os
import time

from gen import write_ping_days
from spans import median0 as _med
from wl_query import ORDER, QueryMix

VIEWS = ("nested_sync", "flat_sync", "events")
FILTER = {"doc_type": "sync", "app_name": "Firefox"}
N_DAYS = 1
PINGS_PER_DAY = 300


class EtlQueryMix:
    name = "etl_query_mix"
    classes = ("view_job", "query")

    def __init__(self, ctx):
        self.ctx = ctx
        self.pings_per_day = PINGS_PER_DAY
        self.qm = QueryMix(ctx)
        self.cached: list = []  # frames the traced run persisted for one view job

    # -- inputs ---------------------------------------------------------------
    def generate(self) -> dict:
        ctx = self.ctx
        self.raw_dir = os.path.join(ctx.root, "pings")
        self.inputs = write_ping_days(self.raw_dir, ctx.seed, N_DAYS, self.pings_per_day)
        self.warm = write_ping_days(os.path.join(ctx.root, "warm_pings"), ctx.seed + 1, 1,
                                    30)
        return {**self.inputs["sizes"], "query_tables": self.qm.generate(),
                "queries_per_round": len(ORDER)}

    # -- the pipeline, with a span around each layer call ----------------------
    def _decoded(self, spark, raw_dir: str, day: str):
        from telemetry_parquet_spark.sources.shim import (
            conjunctive_filter, decode_gzip_payloads, load_exported)

        tr = self.ctx.tracer
        with tr.span("shim.load_exported"):
            raw = load_exported(spark, os.path.join(raw_dir, f"{day}.parquet"))
        with tr.span("shim.conjunctive_filter"):
            kept = conjunctive_filter(raw, FILTER)
        with tr.span("shim.decode_gzip_payloads"):
            decoded = decode_gzip_payloads(kept)
        if tr.enabled:
            # laziness hides the decode inside the write: run it alone first,
            # and keep its output so the later calls do not compute it again
            with tr.span("shim.decode"):
                decoded = self._materialize(decoded)
        return decoded

    def _materialize(self, df):
        """Persists ``df`` and computes it into Spark's ``noop`` sink."""
        df = df.persist()
        self.cached.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def _view(self, view: str, raw_dir: str):
        from telemetry_parquet_spark.sources import json_ingest as J

        tr = self.ctx.tracer

        def compute_day(spark, day):
            pings = self._decoded(spark, raw_dir, day)
            with tr.span("json_ingest.build"):
                if view == "nested_sync":
                    out = J.nested_sync_view(pings)
                elif view == "flat_sync":
                    out = J.flat_sync_view(J.nested_sync_view(pings))
                else:
                    out = J.events_view(pings)
            if tr.enabled:
                with tr.span("json_ingest.exec"):
                    out = self._materialize(out)
            return out

        return compute_day

    def run_day(self, raw_dir: str, out_root: str, day: str, op: int | None,
                rerun: bool = False) -> dict[str, float]:
        """Runs the three view jobs for one day; returns per-view seconds."""
        from telemetry_parquet_spark.plans.jobs import run_daily

        spark, tr = self.ctx.spark, self.ctx.tracer
        took = {}
        for view in VIEWS:
            t0 = time.perf_counter()
            kind = "sync_view" if view != "events" else "events_view"
            with tr.span("jobs.run_daily", op=op, kind=kind, view=view, rerun=rerun):
                res = run_daily(spark, self._view(view, raw_dir),
                                os.path.join(out_root, view), from_day=day, to_day=day)
            took[view] = time.perf_counter() - t0
            self.rows_seen[(view, day)] = res[0].rows
            for df in self.cached:
                df.unpersist()
            self.cached.clear()
        return took

    # -- benchmark phases -------------------------------------------------------
    def warmup(self) -> None:
        """The three view jobs on a small warm-up day and each report query
        once, in the fresh session.

        Each view and query compiles its own code on first use: one first
        run inside the measured round costs up to a second more, by a
        varying amount."""
        from telemetry_parquet_spark.plans.jobs import run_daily

        day, raw = self.warm["days"][0], os.path.join(self.ctx.root, "warm_pings")
        for view in VIEWS:
            run_daily(self.ctx.spark, self._view(view, raw),
                      os.path.join(self.ctx.root, "warm_out", view), from_day=day, to_day=day)
        for q in ORDER:
            self.qm.one(q, None)

    def prepare(self, tag: str) -> None:
        """Starts a measured pass that writes its views under a fresh root."""
        self.rows_seen = {}
        self.stats: dict[str, list] = {}
        self.out_root = os.path.join(self.ctx.root, f"views_{tag}")

    def run(self, rounds: int | None = None) -> int:
        """Runs whole rounds until the deadline (at least one), or exactly
        ``rounds``; returns the rounds run."""
        ctx = self.ctx
        day = self.inputs["days"][0]
        done = 0
        half = len(ORDER) // 2
        # whole rounds only, so every run has the same operation mix: the
        # day, half the queries, the day again (a re-run), the other half
        r = 0
        while r < (rounds or 1) or (rounds is None and time.perf_counter() < ctx.deadline):
            for part in (0, 1):
                rerun = r > 0 or part > 0
                took = ctx.attempt(lambda: self.run_day(self.raw_dir, self.out_root, day, done,
                                                        rerun=rerun))
                done += 1
                if took is not None:
                    for view, sec in took.items():
                        ctx.sample("view_job", sec)
                        ctx.sample("unit", sec)
                        self.stats.setdefault(view, []).append(sec)
                    if rerun:
                        self.stats.setdefault("rerun_day", []).append(sum(took.values()))
                for q in ORDER[part * half:(part + 1) * half]:
                    self.qm.run_one(q, done, self.stats)
                    done += 1
            r += 1
        return r

    def check(self) -> None:
        """Per-view, per-day row counts and rejected pings against the
        generator's truth; a re-run must leave exactly one copy of a day."""
        from pyspark.sql import functions as F

        ctx, spark = self.ctx, self.ctx.spark
        truth = self.inputs["truth"]
        truth_key = {"nested_sync": "nested", "flat_sync": "flat", "events": "events"}
        for view in VIEWS:
            stored = spark.read.parquet(os.path.join(self.out_root, view))
            counts = {str(r[0]): r[1]
                      for r in stored.groupBy("submission_date_s3").count().collect()}
            for day, t in truth.items():
                if (view, day) not in self.rows_seen:
                    continue  # the day's jobs raised: already counted as failed
                want, seen = t[truth_key[view]], self.rows_seen[(view, day)]
                ctx.verify(counts.get(day) == want and seen == want,
                           f"{view} {day}: stored {counts.get(day)}, observed {seen}, want {want}")
        day = self.inputs["days"][0]
        dec = self._kept_decoded(os.path.join(self.raw_dir, f"{day}.parquet"))
        bad = dec.where(F.col("v").isNull()).count()
        uid = F.try_variant_get("v", "$.payload.uid", "string")
        no_uid = dec.where(F.col("v").isNotNull() & uid.isNull()).count()
        ctx.verify(bad == truth[day]["bad_payload"] and no_uid == truth[day]["no_uid"],
                   f"rejected pings {day}: bad {bad}/{truth[day]['bad_payload']}, "
                   f"no uid {no_uid}/{truth[day]['no_uid']}")

    def _kept_decoded(self, path: str):
        """The decoded pings the views see, outside any timed span."""
        from telemetry_parquet_spark.sources.shim import (
            conjunctive_filter, decode_gzip_payloads, load_exported)

        return decode_gzip_payloads(conjunctive_filter(load_exported(self.ctx.spark, path), FILTER))

    def layer_metrics(self, tr) -> dict[str, float]:
        """Per-layer numbers from the traced run's spans."""
        from pyspark.sql import functions as F

        from telemetry_parquet_spark.sources import json_ingest as J

        st, du = tr.self_times(), tr.durations()
        truth = self.inputs["truth"]
        out = {
            "shim.decode_s": _med(du.get("shim.decode")),
            "json_ingest.build_s": _med(du.get("json_ingest.build")),
            "json_ingest.exec_s": _med(du.get("json_ingest.exec")),
            "writers.write_s": _med(st.get("jobs.run_daily")),
            "writers.rerun_day_s": _med(self.stats.get("rerun_day")),
            **self.qm.layer_metrics(self.stats),
        }
        for view in VIEWS:
            out[f"jobs.run_daily_s.{view}"] = _med([
                s["end"] - s["start"] for s in tr.spans
                if s["name"] == "jobs.run_daily" and s.get("view") == view])
        rows = sum(t["rows"] for t in truth.values())
        kept = sum(t["kept"] for t in truth.values())
        out["shim.filtered_frac"] = 1 - kept / rows
        # failure counters, measured on the engine's own outputs
        dec = self._kept_decoded(self.raw_dir)
        out["json_ingest.pings_failed"] = float(dec.where(F.col("v").isNull()).count())
        n_syncs = dec.select(F.sum(F.coalesce(F.size(F.try_variant_get(
            "v", "$.payload.syncs", "array<variant>")), F.lit(0)))).first()[0] or 0
        nested = J.nested_sync_view(dec).count()
        out["json_ingest.syncs_rejected"] = float(n_syncs - nested)
        out["json_ingest.rows_per_ping"] = nested / max(1, kept)
        files, size = 0, 0
        for dirpath, _, names in os.walk(self.out_root):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        out["writers.files_written"] = float(files)
        out["writers.bytes_per_ping"] = size / max(1, rows)
        return out
