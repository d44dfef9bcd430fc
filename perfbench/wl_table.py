"""table_mixed: one snapshot table behind the SQL front door.

Statements go through ``sql_front.engine_sql``; dashboard reads go through
``result_cache.cached_sql`` with a grouped rollup view passed as
``views=``. A fixed 13-statement cycle (``gen.CYCLE``) holds 6 commits
(INSERT of new keys, MERGE INTO on Zipf-skewed keys, merge-on-read UPDATE,
the OPTIMIZE that compacts it, VACUUM, copy-on-write DELETE) and 7
reads (key lookups, time-range scans, dashboards repeated between commits,
an MV-routable rollup, ``VERSION AS OF`` recent versions, ``COUNT(*)``).
Runs are whole cycles, at least two, so every seed measures the same
statement mix. A Python model
replays every statement and is compared with every SELECT and the final
head.
"""

from __future__ import annotations

import itertools
import os
import time
from decimal import Decimal
from urllib.parse import urlparse

from gen import CYCLE, WRITE_KINDS, base_rows, statement_stream
from oracle import result_hash
from spans import median0 as _med

COMMIT_KINDS = WRITE_KINDS + ("optimize", "vacuum")
DASHBOARDS = (
    "SELECT grp, COUNT(*) AS n, SUM(qty) AS s FROM t GROUP BY grp",
    "SELECT grp, SUM(price) AS p FROM t GROUP BY grp",
    "SELECT qty % 5 AS b, COUNT(*) AS n FROM t GROUP BY qty % 5",
)
ROLLUP = "SELECT grp, COUNT(*) AS n, SUM(qty) AS s FROM t GROUP BY grp"
SCHEMA_DDL = "k BIGINT, ts BIGINT, grp STRING, qty INT, price DECIMAL(12,2)"
MIN_CYCLES = 2
BASE_ROWS = 20_000
WARM_ROWS = 200


def _cents(price: float) -> int:
    return round(price * 100)


class Model:
    """Reference state: key -> (ts, grp, qty, price in cents), per version."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, dict] = {}

    def commit(self, version: int) -> None:
        self.versions[version] = dict(self.rows)
        for v in [v for v in self.versions if v < version - 8]:
            del self.versions[v]

    def upsert(self, rows) -> None:
        for k, ts, grp, qty, price in rows:
            self.rows[k] = (ts, grp, qty, _cents(price))

    # expected results, as (columns, rows) in the engine's types
    def dashboard(self, which: int, rows=None):
        rows = self.rows if rows is None else rows
        agg: dict = {}
        if which in (0, 1):
            for ts, grp, qty, c in rows.values():
                a = agg.setdefault(grp, [0, 0, 0])
                a[0] += 1
                a[1] += qty
                a[2] += c
            if which == 0:
                return ["grp", "n", "s"], [(g, a[0], a[1]) for g, a in agg.items()]
            return ["grp", "p"], [(g, Decimal(a[2]).scaleb(-2)) for g, a in agg.items()]
        for ts, grp, qty, c in rows.values():
            agg[qty % 5] = agg.get(qty % 5, 0) + 1
        return ["b", "n"], list(agg.items())

    def lookup(self, k: int):
        r = self.rows.get(k)
        out = [] if r is None else [(k, r[0], r[1], r[2], Decimal(r[3]).scaleb(-2))]
        return ["k", "ts", "grp", "qty", "price"], out

    def range(self, lo: int, hi: int):
        return ["k", "qty"], [(k, r[2]) for k, r in self.rows.items() if lo <= r[0] <= hi]

    def count_sum(self, rows):
        return ["n", "s"], [(len(rows), sum(r[2] for r in rows.values()) if rows else None)]


class TableMixed:
    name = "table_mixed"
    classes = ("commit", "read")

    def __init__(self, ctx):
        self.ctx = ctx
        self.base_n = BASE_ROWS
        self.n_batches = 0  # batch files are never overwritten

    def generate(self) -> dict:
        ctx = self.ctx
        self.batch_dir = os.path.join(ctx.root, "batches")
        os.makedirs(self.batch_dir)
        self.base = base_rows(ctx.seed, self.base_n)
        # enough statements for any run length; consumed in order
        self.stmts = list(itertools.islice(statement_stream(ctx.seed, self.base_n),
                                           100 * len(CYCLE)))
        return {"base_rows": self.base_n, "statements_per_cycle": {
            k: CYCLE.count(k) for k in CYCLE}}

    def _batch(self, rows, name: str) -> str:
        """Writes one submitted batch as Parquet; returns its path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.batch_dir, f"{name}.parquet")
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "k": pa.array(cols[0], pa.int64()), "ts": pa.array(cols[1], pa.int64()),
            "grp": pa.array(cols[2], pa.string()), "qty": pa.array(cols[3], pa.int32()),
            "price": pa.array([Decimal(_cents(p)).scaleb(-2) for p in cols[4]],
                              pa.decimal128(12, 2)),
        }), path)
        self.batch_bytes += os.path.getsize(path)
        return path

    def _new_table(self, root: str, rows) -> None:
        from pyspark.sql.types import _parse_datatype_string

        from telemetry_parquet_spark.sources import snapshots as S

        spark = self.ctx.spark
        S.create_table(root, _parse_datatype_string(SCHEMA_DDL))
        S.append(spark, root, spark.read.parquet(self._batch(rows, os.path.basename(root))))

    # -- one statement -------------------------------------------------------------
    def _sql(self, sql: str, tables: dict, views: dict | None, span: str):
        from telemetry_parquet_spark.sources.sql_front import engine_sql

        tr = self.ctx.tracer
        with tr.span("sql_front.route", layer=span):
            t0 = time.perf_counter()
            df = engine_sql(self.ctx.spark, sql, tables, views=views)
            t1 = time.perf_counter()
        with tr.span("sql_front.exec", layer=span):
            rows = [tuple(r) for r in df.collect()]
        return df, rows, t1 - t0

    def statement(self, kind: str, p: dict, tables: dict, op: int | None):
        """Runs one statement; returns (seconds, result, extra) where
        extra carries the cache hit flag / MV routing / version."""
        from telemetry_parquet_spark.sources.result_cache import cached_sql

        ctx, tr = self.ctx, self.ctx.tracer
        src = None
        if kind in ("insert", "merge"):
            # the batch arrives as a Parquet file (untimed)
            src = f"batch_{self.n_batches}"
            self.n_batches += 1
            ctx.spark.read.parquet(self._batch(p["rows"], src)).createOrReplaceTempView(src)
        cls = "commit" if kind in COMMIT_KINDS else "read"
        extra: dict = {}
        sql = self.sql_for(kind, p, src)
        t0 = time.perf_counter()
        with tr.span(f"stmt.{kind}", op=op, kind=cls) as rec:
            if kind == "dashboard":
                with tr.span("result_cache.cached_sql"):
                    df, hit = cached_sql(ctx.spark, sql, tables, self.cache_dir, views=self.views)
                    rows = [tuple(r) for r in df.collect()]
                extra["hit"] = hit
            else:
                df, rows, route_s = self._sql(sql, tables, self.views if kind == "rollup" else None,
                                              kind)
                extra["route_s"] = route_s
        took = time.perf_counter() - t0
        if rec is not None:
            extra["span"] = rec["id"]
        if kind == "rollup":
            # answered from the view = the plan scans none of the base's files
            extra["mv"] = not any(urlparse(f).path.startswith(self.root + os.sep)
                                  for f in df.inputFiles())
        return took, (df.columns, rows), extra

    def sql_for(self, kind: str, p: dict, src: str | None) -> str:
        if kind == "insert":
            return f"INSERT INTO t SELECT k, ts, grp, qty, price FROM {src}"
        if kind == "merge":
            return f"MERGE INTO t USING (SELECT k, ts, grp, qty, price FROM {src}) ON k"
        if kind == "delete":
            return f"DELETE FROM t WHERE k BETWEEN {p['lo']} AND {p['hi']}"
        if kind == "update":
            return (f"UPDATE t SET qty = qty + {p['delta']} "
                    f"WHERE grp = '{p['grp']}' AND k >= {p['lo']}")
        if kind == "lookup":
            return f"SELECT k, ts, grp, qty, price FROM t WHERE k = {p['k']}"
        if kind == "range":
            return f"SELECT k, qty FROM t WHERE ts BETWEEN {p['lo']} AND {p['hi']}"
        if kind == "dashboard":
            return DASHBOARDS[p["which"]]
        if kind == "rollup":
            return ROLLUP
        if kind == "as_of":
            v = max(1, self.version - p["back"])
            p["v"] = v
            return f"SELECT COUNT(*) AS n, SUM(qty) AS s FROM t VERSION AS OF {v}"
        if kind == "count":
            return "SELECT COUNT(*) AS n FROM t"
        if kind == "optimize":
            return "OPTIMIZE t"
        return f"VACUUM t RETAIN {p['retain']} VERSIONS"

    def expect(self, kind: str, p: dict):
        m = self.model
        if kind == "lookup":
            return m.lookup(p["k"])
        if kind == "range":
            return m.range(p["lo"], p["hi"])
        if kind == "dashboard":
            return m.dashboard(p["which"])
        if kind == "rollup":
            return m.dashboard(0)
        if kind == "as_of":
            return m.count_sum(m.versions[p["v"]])
        if kind == "count":
            return ["n"], [(len(m.rows),)]
        return None

    def apply(self, kind: str, p: dict) -> None:
        m = self.model
        if kind in ("insert", "merge"):
            m.upsert(p["rows"])
        elif kind == "delete":
            for k in range(p["lo"], p["hi"] + 1):
                m.rows.pop(k, None)
        elif kind == "update":
            for k, (ts, grp, qty, c) in list(m.rows.items()):
                if grp == p["grp"] and k >= p["lo"]:
                    m.rows[k] = (ts, grp, qty + p["delta"], c)

    # -- benchmark phases ---------------------------------------------------------
    def _open(self, tag: str) -> dict:
        from telemetry_parquet_spark.sources import snapshots as S
        from telemetry_parquet_spark.sources.views import create_view

        root = os.path.join(self.ctx.root, f"table_{tag}")
        self.view_root = os.path.join(self.ctx.root, f"view_{tag}")
        self.cache_dir = os.path.join(self.ctx.root, f"cache_{tag}")
        self.batch_bytes = 0
        self.model = Model()
        rows = self.base[:WARM_ROWS] if tag == "warm" else self.base
        self._new_table(root, rows)
        self.model.upsert(rows)
        self.version = S.latest_version(root)
        self.model.commit(self.version)
        create_view(self.ctx.spark, root, self.view_root, ["grp"], ["qty"])
        self.views = {"t": [self.view_root]}
        self.root = root
        return {"t": root}

    def warmup(self) -> None:
        """One statement cycle, each kind once, on a small warm-up table in
        the fresh session: a kind first run inside the measured cycles
        costs up to a second more, by a varying amount."""
        tables = self._open("warm")
        for kind, p in itertools.islice(statement_stream(self.ctx.seed + 1, WARM_ROWS),
                                        len(CYCLE)):
            self.statement(kind, p, tables, None)

    def prepare(self, tag: str) -> None:
        """Starts a measured pass on a fresh table of the base rows."""
        self.tables = self._open(tag)
        self.seen_files: dict[str, int] = {}
        self._scan_root()
        self.stats: dict[str, list] = {}

    def run(self, rounds: int | None = None) -> int:
        """Runs whole statement cycles until the deadline (at least
        ``MIN_CYCLES``), or exactly ``rounds`` cycles; returns the cycles
        run."""
        from telemetry_parquet_spark.sources import snapshots as S

        ctx, tables = self.ctx, self.tables
        done = 0
        for kind, p in self.stmts:
            # whole cycles, at least two: the first runs each kind for the
            # first time, so every run has the same mix of cold and warm
            cycles = done // len(CYCLE)
            if done % len(CYCLE) == 0 and (cycles == rounds or rounds is None and (
                    cycles >= MIN_CYCLES and time.perf_counter() >= ctx.deadline)):
                break
            got = ctx.attempt(lambda: self.statement(kind, p, tables, done))
            done += 1
            if got is None:
                continue
            took, (cols, rows), extra = got
            cls = "commit" if kind in COMMIT_KINDS else "read"
            ctx.sample(cls, took)
            ctx.sample("unit", took)
            self.stats.setdefault(kind, []).append(took)
            for k, v in extra.items():
                self.stats.setdefault(f"{kind}.{k}", []).append(v)
            # untimed: the model, the checks and the write accounting
            if cls == "commit":
                self.apply(kind, p)
                if kind != "vacuum":
                    self.version = S.latest_version(self.root)
                    self.model.commit(self.version)
                self.stats.setdefault(f"{kind}.bytes", []).append(self._scan_root())
            else:
                if kind == "lookup" and "span" in extra:
                    # the traced lookup's span keeps the files live then
                    head = S.read_manifest(self.root, S.latest_version(self.root))
                    ctx.tracer.spans[extra["span"]]["files_live"] = len(head["files"])
                want = self.expect(kind, p)
                ctx.verify(result_hash(cols, rows, True) == result_hash(*want, True),
                           f"{kind} {p.get('k', p.get('which', ''))}: result differs from model")
        return done // len(CYCLE)

    def _scan_root(self) -> int:
        """Records every file ever seen under the table root with its size;
        returns the bytes of the files new since the last scan."""
        new = 0
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                path = os.path.join(dirpath, n)
                if path not in self.seen_files:
                    self.seen_files[path] = os.path.getsize(path)
                    new += self.seen_files[path]
        return new

    def check(self) -> None:
        from telemetry_parquet_spark.sources.sql_front import engine_sql

        rows = [tuple(r) for r in engine_sql(
            self.ctx.spark, "SELECT k, ts, grp, qty, price FROM t", {"t": self.root}).collect()]
        want = [(k, r[0], r[1], r[2], Decimal(r[3]).scaleb(-2)) for k, r in self.model.rows.items()]
        self.ctx.verify(result_hash(["k", "ts", "grp", "qty", "price"], rows, True)
                        == result_hash(["k", "ts", "grp", "qty", "price"], want, True),
                        "final head differs from the model")

    def amplification(self) -> dict[str, float]:
        from telemetry_parquet_spark.sources import snapshots as S

        head = S.read_manifest(self.root, S.latest_version(self.root))
        live = [os.path.join(self.root, f) for f in head["files"] + list(head.get("dv") or [])]
        live_bytes = sum(os.path.getsize(f) for f in live if os.path.exists(f))
        under_root = 0
        for dirpath, _, names in os.walk(self.root):
            under_root += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        return {
            "write_amp": sum(self.seen_files.values()) / self.batch_bytes,
            "space_amp": under_root / live_bytes,
            "files_live": float(len(head["files"])),
            "dv_files": float(len(head.get("dv") or [])),
            "manifest_bytes": float(sum(size for path, size in self.seen_files.items()
                                        if path.endswith(".json") and os.path.exists(path))),
        }

    # -- traced run -----------------------------------------------------------------
    def layer_metrics(self, tr) -> dict[str, float]:
        st = self.stats
        reads = ("lookup", "range", "as_of", "count", "rollup")

        def read_spans(name: str) -> list[float]:
            return [s["end"] - s["start"] for s in tr.spans
                    if s["name"] == name and s.get("layer") in reads]

        out = {
            "sql_front.route_s": _med(read_spans("sql_front.route")),
            "sql_front.exec_s": _med(read_spans("sql_front.exec")),
            "snapshots.bytes_rewritten": float(sum(st.get("optimize.bytes", []))),
        }
        for k in COMMIT_KINDS:
            out[f"snapshots.{k}_s"] = _med(st.get(k))
        amp = self.amplification()
        for k, v in amp.items():
            out[f"snapshots.{k}"] = v
        hits = st.get("dashboard.hit", [])
        if hits:
            out["result_cache.hit_ratio"] = sum(hits) / len(hits)
            out["result_cache.hit_s"] = _med([t for t, h in zip(st["dashboard"], hits) if h])
            out["result_cache.miss_s"] = _med([t for t, h in zip(st["dashboard"], hits) if not h])
        mv = st.get("rollup.mv", [])
        out["views.mv_answered_frac"] = sum(mv) / len(mv) if mv else 0.0
        return out
