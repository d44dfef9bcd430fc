"""Registered report queries, a fixed set run every round (read-only).

The report queries of the etl_query_mix workload, each checked against its
DuckDB ``oracle_sql()``. ``rel`` queries exercise ``operators``, ``corpus``
queries ``datapipe``. MinHash LSH is measured in the traced run only
(``lsh_quality``): its build alone takes several seconds, more than a
round can spend on one query. Each query is
timed as build (the function returning its DataFrame) plus execution
(collect); ``session.clear_cached_relations`` runs between queries, as the
session layer's residue contract requires.
"""

from __future__ import annotations

import os
import time

from gen import write_query_tables
from oracle import duckdb_conn, duckdb_hash, result_hash
from spans import median0 as _med

# The report queries, in the order a round runs them: windows with
# sessionization and an as-of join (``operators``), token encoding and Bloom
# incremental dedup (``datapipe``).
ORDER = ("sessionize_events", "encode_token_ids", "asof_last_purchase_before_view",
         "dd_incremental_bloom")
REL = ("sessionize_events", "asof_last_purchase_before_view")
CORPUS = ("encode_token_ids", "dd_incremental_bloom")
LSH_QUERY = "dd_minhash_near_dup_pairs"  # oracle of the LSH recall figure
TABLES = ("events", "documents")
N_EVENTS, N_DOCS = 6000, 400


class QueryMix:
    def __init__(self, ctx):
        self.ctx = ctx

    def generate(self) -> dict:
        ctx = self.ctx
        self.data = os.path.join(ctx.root, "query_tables")
        sizes = write_query_tables(self.data, ctx.seed, N_EVENTS, N_DOCS)
        import __spark_entry__ as E

        fns, oracles = E.queries(), E.oracle_sql()
        self.fns = {q: fns[q] for q in ORDER}
        con = duckdb_conn(self.data, TABLES)
        self.want = {q: duckdb_hash(con, oracles[q]) for q in ORDER}
        cur = con.execute(oracles[LSH_QUERY])
        self.lsh_exact = _pairs([d[0] for d in cur.description], cur.fetchall())
        con.close()
        sizes["queries"] = list(ORDER)
        return sizes

    def one(self, q: str, op: int | None) -> tuple[float, float, tuple]:
        from telemetry_parquet_spark.session import clear_cached_relations

        ctx, tr = self.ctx, self.ctx.tracer
        kind = "rel" if q in REL else "corpus"
        with tr.span("queries.query", op=op, kind=kind, query=q):
            t0 = time.perf_counter()
            with tr.span("queries.build"):
                df = self.fns[q](ctx.spark, self.data)
            t1 = time.perf_counter()
            with tr.span("queries.exec"):
                rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        with tr.span("session.clear_cache", op=op, kind=kind):
            clear_cached_relations(ctx.spark)
        return t1 - t0, t2 - t1, (df.columns, rows)

    def run_one(self, q: str, op: int, stats: dict) -> None:
        """Times one query as an operation of class ``query`` and checks
        it (untimed) against its oracle."""
        ctx = self.ctx
        got = ctx.attempt(lambda: self.one(q, op))
        if got is None:
            return
        build, exe, (cols, rows) = got
        kind = "rel" if q in REL else "corpus"
        ctx.sample("query", build + exe)
        ctx.sample("unit", build + exe)
        for key, v in ((f"{kind}.build", build), (f"{kind}.exec", exe), (f"{q}.exec", exe)):
            stats.setdefault(key, []).append(v)
        ctx.verify(result_hash(cols, rows) == self.want[q], f"{q}: result differs from its oracle")

    def layer_metrics(self, stats: dict) -> dict[str, float]:
        out = {}
        for cls in ("rel", "corpus"):
            out[f"queries.build_s.{cls}"] = _med(stats.get(f"{cls}.build"))
            out[f"queries.exec_s.{cls}"] = _med(stats.get(f"{cls}.exec"))
        for q in ORDER:
            out[f"queries.{q}.exec_s"] = _med(stats.get(f"{q}.exec"))
        out.update(self.lsh_quality())
        return out

    def lsh_quality(self) -> dict[str, float]:
        """LSH candidate pairs vs verified and exact near-duplicate pairs on
        the same documents (untimed)."""
        from telemetry_parquet_spark.datapipe.dedup import (
            lsh_candidate_pairs, minhash_docs, minhash_near_dup_pairs)
        from telemetry_parquet_spark.sources.tables import load_table

        docs = load_table(self.ctx.spark, self.data, "documents")
        cands = lsh_candidate_pairs(minhash_docs(docs, "doc_id", "text", 3, 64),
                                    bands=16, num_hashes=64).count()
        verified = minhash_near_dup_pairs(docs, threshold=0.5).count()
        return {"datapipe.lsh_precision": verified / cands if cands else 0.0,
                "datapipe.lsh_recall": verified / len(self.lsh_exact) if self.lsh_exact else 0.0}


def _pairs(cols: list[str], rows: list[tuple]) -> set[tuple]:
    a, b = cols.index("id_a"), cols.index("id_b")
    return {(r[a], r[b]) for r in rows}
