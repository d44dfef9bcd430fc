"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and writes only under
the directory it is given, so the same seed always yields byte-identical
inputs. Each returns the ground truth the correctness checks compare
against, plus the input sizes recorded in the run record.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random

# --- etl_query_mix: exported sync pings -------------------------------------

ENGINES = ("bookmarks", "history", "tabs", "passwords", "addons", "prefs")
EVENT_CATEGORIES = ("sync", "pictureinpicture", "urlbar")
EVENT_METHODS = ("displayURI", "open_uri", "create", "sendcommand")
OTHER_DOC_TYPES = ("main", "crash", "event")

# shares of all rows (the rest are well-formed sync pings)
SHARE_OTHER_DOC = 0.10
SHARE_OTHER_APP = 0.05
SHARE_BAD_PAYLOAD = 0.04
SHARE_NO_UID = 0.04
SHARE_SYNC_NO_WHEN = 0.05  # per sync, within otherwise valid pings
SHARE_BAD_EVENT = 0.05  # per event entry


def zipf_sampler(rng: random.Random, n: int, s: float):
    """Draws from {1..n} with P(k) ∝ k^-s (inverse-CDF over a table)."""
    weights = [1.0 / (k**s) for k in range(1, n + 1)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)

    def draw() -> int:
        u = rng.random()
        lo, hi = 0, n - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo + 1

    return draw


def day_keys(n_days: int, start: str = "20240301") -> list[str]:
    d0 = dt.datetime.strptime(start, "%Y%m%d")
    return [(d0 + dt.timedelta(days=i)).strftime("%Y%m%d") for i in range(n_days)]


def _ping_doc(rng: random.Random, day_ms: int, uid: str | None, n_syncs: int,
              n_events: int, truth: dict) -> dict:
    syncs = []
    for _ in range(n_syncs):
        n_eng = rng.choice((0, 1, 1, 2, 2, 3))
        engines = []
        for name in rng.sample(ENGINES, n_eng):
            eng = {"name": name, "took": rng.randint(0, 900)}
            if rng.random() < 0.3:
                eng["incoming"] = {"applied": rng.randint(0, 20), "failed": rng.randint(0, 2)}
            if rng.random() < 0.3:
                eng["outgoing"] = [{"sent": rng.randint(0, 9)} for _ in range(rng.randint(1, 3))]
            engines.append(eng)
        sync = {"took": rng.randint(1, 5000), "engines": engines,
                "devices": [{"id": f"dev-{rng.randint(0, 99)}", "version": "135.0", "os": "WINNT"}]}
        has_when = rng.random() >= SHARE_SYNC_NO_WHEN
        if has_when:
            sync["when"] = day_ms + rng.randint(0, 86_399_999)
        syncs.append(sync)
        if uid is not None and has_when:
            truth["nested"] += 1
            truth["flat"] += max(1, n_eng)
    events = []
    for _ in range(n_events):
        if rng.random() < SHARE_BAD_EVENT:
            events.append([day_ms, "malformed"])
            continue
        ev = [day_ms + rng.randint(0, 86_399_999), rng.choice(EVENT_CATEGORIES),
              rng.choice(EVENT_METHODS), "obj"]
        if rng.random() < 0.5:
            ev += [None, {"deviceID": f"dev-{rng.randint(0, 99)}", "flowID": rng.randint(0, 9)}]
        events.append(ev)
        truth["events"] += 1
    payload = {"deviceID": f"dev-{rng.randint(0, 99)}", "why": "schedule",
               "os": {"name": "Windows", "version": "10", "locale": "en-US"},
               "syncs": syncs, "events": events}
    if uid is not None:
        payload["uid"] = uid
    return {"type": "sync", "version": 4,
            "application": {"buildId": "20260101010101", "displayVersion": "135.0",
                            "name": "Firefox", "version": "135.0.1", "channel": "release"},
            "payload": payload}


def write_ping_days(out_dir: str, seed: int, n_days: int, pings_per_day: int) -> dict:
    """Writes ``<out_dir>/<day>.parquet`` (one row per exported ping) and
    returns ``{"days": [...], "truth": {day: counts}, "sizes": {...}}``.

    Rows carry dimension columns (doc_type, app_name, channel) and a gzip
    JSON ``payload``. A fixed share are other doc types, other apps,
    unparseable payloads or pings missing ``uid``; syncs and events per
    ping are Zipf-skewed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    syncs_per_ping = zipf_sampler(rng, 8, 1.6)
    events_per_ping = zipf_sampler(rng, 24, 1.1)
    os.makedirs(out_dir, exist_ok=True)
    days = day_keys(n_days)
    truth: dict[str, dict] = {}
    day_bytes = []
    for day in days:
        day_ms = int(dt.datetime.strptime(day, "%Y%m%d").replace(
            tzinfo=dt.timezone.utc).timestamp() * 1000)
        t = {"rows": 0, "kept": 0, "bad_payload": 0, "no_uid": 0,
             "nested": 0, "flat": 0, "events": 0}
        cols: dict[str, list] = {"doc_id": [], "submission_date_s3": [], "doc_type": [],
                                 "app_name": [], "channel": [], "payload": []}
        for i in range(pings_per_day):
            u = rng.random()
            doc_type, app = "sync", "Firefox"
            if u < SHARE_OTHER_DOC:
                doc_type = rng.choice(OTHER_DOC_TYPES)
            elif u < SHARE_OTHER_DOC + SHARE_OTHER_APP:
                app = "Fennec"
            kept = doc_type == "sync" and app == "Firefox"
            v = rng.random()
            if v < SHARE_BAD_PAYLOAD:
                # half not gzip at all, half gzip of non-JSON
                payload = (b"\x00not-gzip" if rng.random() < 0.5
                           else gzip.compress(b"{{{not json", mtime=0))
                if kept:
                    t["bad_payload"] += 1
            else:
                no_uid = v < SHARE_BAD_PAYLOAD + SHARE_NO_UID
                uid = None if no_uid else f"uid-{rng.randint(0, 10 * pings_per_day)}"
                sub = t if kept else {"nested": 0, "flat": 0, "events": 0}
                doc = _ping_doc(rng, day_ms, uid, syncs_per_ping(),
                                events_per_ping() - 1, sub)
                payload = gzip.compress(json.dumps(doc).encode(), mtime=0)
                if kept and no_uid:
                    t["no_uid"] += 1
            t["rows"] += 1
            t["kept"] += int(kept)
            cols["doc_id"].append(i)
            cols["submission_date_s3"].append(day)
            cols["doc_type"].append(doc_type)
            cols["app_name"].append(app)
            cols["channel"].append(rng.choice(("release", "release", "beta", "nightly")))
            cols["payload"].append(payload)
        path = os.path.join(out_dir, f"{day}.parquet")
        pq.write_table(pa.table(cols), path)
        day_bytes.append(os.path.getsize(path))
        truth[day] = t
    return {
        "days": days,
        "truth": truth,
        "sizes": {"days": n_days, "pings_per_day": pings_per_day,
                  "bytes_per_day": int(sum(day_bytes) / len(day_bytes))},
    }


# --- etl_query_mix: events and documents for the report queries ------------

_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "the a line sort window join shuffle stage task file page index").split()


def write_query_tables(out_dir: str, seed: int, n_events: int, n_docs: int) -> dict:
    """Writes the two tables the report queries read, ``events`` and
    ``documents`` (``<out_dir>/<table>.parquet``), with the testdata
    layouts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict, schema: pa.Schema):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))

    n_users = max(10, n_events // 20)
    ev_ts = (np.datetime64("2024-01-01T00:00:00", "us")
             + np.sort(rng.integers(0, 14 * 86_400, n_events)) * np.int64(1_000_000)
             + rng.integers(0, 1_000_000, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.zipf(1.3, n_events) % n_users,
        "event_type": np.array(["view", "click", "purchase", "error", "view", "click"])[
            rng.integers(0, 6, n_events)],
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))

    # documents: ~15% exact copies and ~10% near-copies of earlier docs
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.15:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 60))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr"])[rng.integers(0, 4, n_docs)],
        "source": [f"src{int(k)}" for k in rng.integers(0, 5, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))
    return {"events": n_events, "documents": n_docs}


# --- table_mixed: statement sequence over one snapshot table ----------------

def base_rows(seed: int, n: int) -> list[tuple]:
    """Base table rows with unique keys 0..n-1: (k, ts_seconds, grp, qty,
    price). ``price`` is a 2-decimal value stored as cents/100."""
    rng = random.Random(seed * 7919 + 1)
    return [(k, 1_700_000_000 + k * 10 + rng.randint(0, 9), f"g{rng.randint(0, 7)}",
             rng.randint(1, 50), rng.randint(100, 99_999) / 100) for k in range(n)]


# One cycle of statement kinds, repeated: 6 commits (INSERT, MERGE, MOR
# UPDATE, the OPTIMIZE that materializes its deletion vectors before the
# copy-on-write DELETE, VACUUM) and 7 reads; the dashboard is asked twice
# between two commits. A fixed kind schedule keeps every seed's mix
# identical; the seed draws keys, values and batches.
CYCLE = ("insert", "dashboard", "lookup", "dashboard", "merge", "range", "update", "as_of",
         "optimize", "vacuum", "delete", "count", "rollup")
WRITE_KINDS = ("insert", "merge", "delete", "update")


def statement_stream(seed: int, base_n: int):
    """Infinite seeded stream of (kind, params) table statements.

    Writes pick keys Zipf-skewed over the live key space; INSERT mints new
    keys with recent timestamps; dashboards repeat between commits (the
    result cache's hit path)."""
    rng = random.Random(seed)
    next_key = base_n
    zipf = zipf_sampler(rng, 1000, 1.1)
    which = rng.randint(0, 2)
    while True:
        for kind in CYCLE:
            if kind in WRITE_KINDS:
                which = rng.randint(0, 2)  # the next dashboard, asked twice
            if kind == "insert":
                n = rng.randint(5, 40)
                rows = [(next_key + i, 1_700_000_000 + (next_key + i) * 10, f"g{rng.randint(0, 7)}",
                         rng.randint(1, 50), rng.randint(100, 99_999) / 100) for i in range(n)]
                next_key += n
                yield kind, {"rows": rows}
            elif kind == "merge":
                # distinct Zipf-skewed existing keys plus a few new ones
                keys = sorted({(zipf() * 7919) % next_key for _ in range(rng.randint(3, 20))})
                new = [next_key + i for i in range(rng.randint(0, 3))]
                next_key += len(new)
                rows = [(k, 1_700_000_000 + k * 10, f"g{rng.randint(0, 7)}",
                         rng.randint(1, 50), rng.randint(100, 99_999) / 100) for k in keys + new]
                yield kind, {"rows": rows}
            elif kind == "delete":
                lo = (zipf() * 7919) % next_key
                yield kind, {"lo": lo, "hi": lo + rng.randint(0, 4)}
            elif kind == "update":
                yield kind, {"grp": f"g{rng.randint(0, 7)}", "lo": rng.randint(0, next_key),
                             "delta": rng.randint(1, 3)}
            elif kind == "lookup":
                yield kind, {"k": (zipf() * 7919) % next_key}
            elif kind == "range":
                lo = 1_700_000_000 + rng.randint(0, next_key) * 10
                yield kind, {"lo": lo, "hi": lo + rng.randint(50, 2000)}
            elif kind == "dashboard":
                yield kind, {"which": which}
            elif kind == "as_of":
                yield kind, {"back": rng.randint(1, 3)}
            elif kind == "vacuum":
                yield kind, {"retain": 4}
            else:
                yield kind, {}
