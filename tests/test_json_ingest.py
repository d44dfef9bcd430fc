"""Ping-ingestion tests — fixture shapes per FIXTURES.md F-2 (the reference's
test strategy: hand-authored payloads, field-level assertions,
SyncViewTest.scala pattern), authored fresh for this engine."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.json_ingest import (
    enrich_events_with_devices,
    events_view,
    flat_sync_view,
    ingest_metrics,
    nested_sync_view,
    parse_pings,
)


def ping(payload, app=None, os=None):
    doc = {
        "type": "sync",
        "id": "0000-1111",
        "version": 4,
        "application": app
        or {
            "buildId": "20260101010101",
            "displayVersion": "135.0",
            "name": "TestApp",
            "version": "135.0.1",
            "channel": "release",
        },
        "payload": payload,
    }
    if os:
        doc["os"] = os
    return json.dumps(doc)


MULTI_SYNC = ping(
    {
        "uid": "uid-1",
        "deviceID": "dev-1",
        "why": "schedule",
        "os": {"name": "Windows", "version": "10", "locale": "en-US"},
        "syncs": [
            {
                "when": 1704067200000,
                "took": 2130,
                "status": {"service": "error.sync.failed_partial"},
                "engines": [
                    {"name": "bookmarks", "took": 500},
                    {
                        "name": "history",
                        "took": 300,
                        "status": "error.engine.reason.unknown_fail",
                        "failureReason": {"name": "httperror", "code": 500},
                        "incoming": {"applied": 2, "failed": 1},
                        "outgoing": [{"sent": 5}, {"sent": 2, "failed": 1}],
                    },
                ],
                "devices": [
                    {"id": "dev-1", "version": "135.0", "os": "WINNT"},
                    {"id": "dev-2", "version": "134.0", "os": "Darwin"},
                ],
            },
            {"when": 1704153600000, "took": 80},
        ],
    }
)

# old-style: sync fields directly under payload (SyncViewTestPayloads "old
# style" shape), os at the top level (Android position)
OLD_STYLE = ping(
    {
        "uid": "uid-2",
        "when": 1704240000000,
        "took": 44,
        "engines": [{"name": "tabs", "outgoing": {"sent": 7}}],
    },
    os={"name": "Android", "version": "14", "locale": "de"},
)

NO_UID = ping({"when": 123, "took": 1})
NOT_JSON = "{{{this is not json"

EVENTS_PING = ping(
    {
        "uid": "uid-3",
        "deviceID": "dev-9",
        "syncs": [
            {
                "when": 1704240000000,
                "took": 1,
                "devices": [{"id": "dev-9", "version": "135.0", "os": "WINNT"}],
            }
        ],
        "events": [
            [1704240000001, "sync", "displayURI", "sendcommand", None, {"deviceID": "dev-9", "flowID": 7, "none": None, "truthy": True}],
            [1704240000002, "sync", "open_uri", "urlbar", "some-value"],
            [1704240000003, "pictureinpicture", "create", "player"],
            ["malformed"],
            [1704240000004, "missing-method-and-object"],
        ],
    }
)


@pytest.fixture(scope="module")
def parsed(spark):
    raw = spark.createDataFrame(
        [(MULTI_SYNC,), (OLD_STYLE,), (NO_UID,), (NOT_JSON,), (EVENTS_PING,)],
        ["json"],
    )
    return raw, parse_pings(raw)


def test_nested_sync_explode_and_rejection(spark, parsed):
    raw, pings = parsed
    nested = nested_sync_view(pings)
    rows = {(r.uid, r.when): r for r in nested.collect()}
    # 2 syncs from MULTI_SYNC + 1 old-style + 1 from EVENTS_PING; NO_UID and
    # NOT_JSON rejected
    assert len(rows) == 4

    r = rows[("uid-1", 1704067200000)]
    assert r.app_name == "TestApp"
    assert r.os == "Windows" and r.os_locale == "en-US"
    assert r.took == 2130
    assert r.status.service == "error.sync.failed_partial"
    assert r.status.sync is None
    assert r.why == "schedule"
    assert [e.name for e in r.engines] == ["bookmarks", "history"]
    hist = r.engines[1]
    assert hist.failure_reason.name == "httperror"
    assert hist.failure_reason.value == "500"
    assert hist.incoming.applied == 2 and hist.incoming.new_failed == 0
    assert [(o.sent, o.failed) for o in hist.outgoing] == [(5, 0), (2, 1)]
    assert [d.id for d in r.devices] == ["dev-1", "dev-2"]

    # second sync of the same ping: defaults
    r2 = rows[("uid-1", 1704153600000)]
    assert r2.engines is None and r2.status is None

    # old-style ping: payload-as-sync, top-level os position
    r3 = rows[("uid-2", 1704240000000)]
    assert r3.os == "Android"
    assert [e.name for e in r3.engines] == ["tabs"]
    # object-form outgoing → one batch
    assert [(o.sent, o.failed) for o in r3.engines[0].outgoing] == [(7, 0)]


def test_metrics(spark, parsed):
    raw, pings = parsed
    nested = nested_sync_view(pings)
    m = ingest_metrics(raw, pings, nested)
    assert m["records_total"] == 5
    assert m["records_failed"] == 1  # NOT_JSON
    assert m["records_ignored"] == 1  # NO_UID's sync, counted in syncs
    assert m["rows_processed"] == 4


def test_observed_metrics_single_pass(spark):
    """A10 single-pass accumulators: one action yields data AND counts."""
    from telemetry_parquet_spark.sources.json_ingest import nested_sync_view_observed

    raw = spark.createDataFrame(
        [(MULTI_SYNC,), (OLD_STYLE,), (NO_UID,), (NOT_JSON,)], ["json"]
    )
    nested, obs = nested_sync_view_observed(raw)
    n = nested.count()  # the single action
    parse = obs["parse"].get
    syncs = obs["syncs"].get
    assert n == 3  # 2 multi + 1 old-style
    assert parse["records_total"] == 4
    assert parse["records_failed"] == 1      # NOT_JSON
    assert syncs["syncs_rejected"] == 1      # NO_UID's sync
    assert syncs["syncs_exploded"] == 4


def test_flat_sync_view(spark, parsed):
    _, pings = parsed
    flat = flat_sync_view(nested_sync_view(pings))
    rows = [r for r in flat.collect() if r.uid == "uid-1" and r.when == 1704067200000]
    assert {r.engine_name for r in rows} == {"bookmarks", "history"}
    hist = next(r for r in rows if r.engine_name == "history")
    assert hist.engine_outgoing_batch_count == 2
    assert hist.engine_outgoing_batch_total_sent == 7
    assert hist.engine_outgoing_batch_total_failed == 1
    assert hist.engine_incoming_applied == 2
    assert hist.sync_day == "20240101"
    assert hist.sync_id is not None
    # engine-less sync survives with null engine columns (explode_outer)
    no_engines = [r for r in flat.collect() if r.when == 1704153600000]
    assert len(no_engines) == 1 and no_engines[0].engine_name is None


def test_events_view_malformed_skip_and_map_stringify(spark, parsed):
    _, pings = parsed
    ev = events_view(pings)
    rows = sorted(ev.collect(), key=lambda r: r.event_timestamp)
    # 3 valid events; the arity-1 and arity-2 entries are skipped
    assert len(rows) == 3
    e0 = rows[0]
    assert (e0.event_category, e0.event_method, e0.event_object) == (
        "sync", "displayURI", "sendcommand"
    )
    assert e0.event_string_value is None
    # F19: values stringified, JSON null -> 'null' string
    assert e0.event_map_values["deviceID"] == "dev-9"
    assert e0.event_map_values["flowID"] == "7"
    assert e0.event_map_values["none"] == "null"
    assert e0.event_map_values["truthy"] == "true"
    assert rows[1].event_string_value == "some-value"
    assert rows[2].event_map_values is None


def test_enrich_events_with_devices(spark, parsed):
    _, pings = parsed
    nested = nested_sync_view(pings)
    ev = events_view(pings)
    enriched = enrich_events_with_devices(ev, nested)
    by_ts = {r.event_timestamp: r for r in enriched.collect()}
    assert by_ts[1704240000001].device_version == "135.0"
    assert by_ts[1704240000001].device_os == "WINNT"
    assert by_ts[1704240000002].device_version is None


# one device id reported with three (version, os) pairs across the uid's
# syncs; the array order is not the `when` order, and the oldest sync has
# the greatest version
DEVICE_UPGRADE = ping(
    {
        "uid": "uid-4",
        "deviceID": "dev-5",
        "syncs": [
            {"when": 1704240000000, "took": 1,
             "devices": [{"id": "dev-5", "version": "135.0", "os": "Linux"}]},
            {"when": 1704326400000, "took": 1,
             "devices": [{"id": "dev-5", "version": "136.0", "os": "Linux"}]},
            {"when": 1704153600000, "took": 1,
             "devices": [{"id": "dev-5", "version": "137.0", "os": "Darwin"}]},
        ],
        "events": [
            [1704326400001, "sync", "displayURI", "sendcommand", None, {"deviceID": "dev-5"}],
        ],
    }
)


def test_enrich_events_takes_latest_sync_device_entry(spark):
    pings = parse_pings(spark.createDataFrame([(DEVICE_UPGRADE,)], ["json"]))
    enriched = enrich_events_with_devices(events_view(pings), nested_sync_view(pings))
    [r] = enriched.collect()
    assert (r.device_version, r.device_os) == ("136.0", "Linux")


VIEW_SCHEMAS = {
    "nested": (
        "struct<app_build_id:string,app_display_version:string,app_name:string,"
        "app_version:string,app_channel:string,os:string,os_version:string,"
        "os_locale:string,uid:string,device_id:string,when:bigint,took:bigint,"
        "failure_reason:struct<name:string,value:string>,"
        "status:struct<sync:string,service:string>,why:string,"
        "engines:array<struct<name:string,took:bigint,status:string,"
        "failure_reason:struct<name:string,value:string>,"
        "incoming:struct<applied:bigint,failed:bigint,new_failed:bigint,reconciled:bigint>,"
        "outgoing:array<struct<sent:bigint,failed:bigint>>,"
        "steps:array<struct<name:string,took:bigint,counts:array<struct<name:string,count:bigint>>>>,"
        "validation:struct<version:bigint,checked:bigint,took:bigint,"
        "problems:array<struct<name:string,count:bigint>>,"
        "failure_reason:struct<name:string,value:string>>>>,"
        "devices:array<struct<id:string,version:string,os:string>>>"
    ),
    "flat": (
        "struct<app_build_id:string,app_display_version:string,app_name:string,"
        "app_version:string,app_channel:string,os:string,os_version:string,"
        "os_locale:string,uid:string,device_id:string,when:bigint,took:bigint,"
        "failure_reason:struct<name:string,value:string>,"
        "status:struct<sync:string,service:string>,why:string,"
        "devices:array<struct<id:string,version:string,os:string>>,"
        "sync_id:string,sync_day:string,engine_name:string,engine_took:bigint,"
        "engine_status:string,engine_failure_reason:struct<name:string,value:string>,"
        "engine_incoming_applied:bigint,engine_incoming_failed:bigint,"
        "engine_incoming_new_failed:bigint,engine_incoming_reconciled:bigint,"
        "engine_outgoing_batch_count:int,engine_outgoing_batch_total_sent:bigint,"
        "engine_outgoing_batch_total_failed:bigint>"
    ),
    "events": (
        "struct<uid:string,device_id:string,event_timestamp:bigint,"
        "event_category:string,event_method:string,event_object:string,"
        "event_string_value:string,event_map_values:map<string,string>>"
    ),
}

VIEW_BUILDERS = {
    "nested": nested_sync_view,
    "flat": lambda pings: flat_sync_view(nested_sync_view(pings)),
    "events": events_view,
}


@pytest.mark.parametrize("view", sorted(VIEW_SCHEMAS))
def test_view_schema_pinned(spark, parsed, view):
    _, pings = parsed
    assert VIEW_BUILDERS[view](pings).schema.simpleString() == VIEW_SCHEMAS[view]


# py4j commands one build of each view may send to the JVM. The views are
# SQL-expression projections (a few dozen commands); built as Column trees
# they took 1,361 (nested), about 2,100-2,500 (flat over nested) and 365
# (events).
ROUND_TRIP_BUDGET = {"nested": 60, "flat": 150, "events": 40}


@pytest.mark.parametrize("view", sorted(ROUND_TRIP_BUDGET))
def test_view_build_round_trip_budget(spark, parsed, monkeypatch, view):
    _, pings = parsed
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = [0]

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends garbage-collection commands too;
        # only this thread's commands belong to the build
        if threading.get_ident() == me:
            sent[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    VIEW_BUILDERS[view](pings)
    monkeypatch.undo()
    assert 0 < sent[0] <= ROUND_TRIP_BUDGET[view]


def test_json_union_coercion_matrix(spark, sf_dir):
    """JSON2Avro union-as-optional rules, pinned cell by cell (independent of
    the DuckDB oracle): string accepts any primitive; int only integer
    tokens; double only non-integer numeric tokens; bool only true/false;
    malformed rows null every field instead of failing the load."""
    from telemetry_parquet_spark.queries.semistructured import json_union_coercion

    rows = {r.doc_id: r for r in json_union_coercion(spark, sf_dir).collect()}
    m0 = next(r for i, r in rows.items() if i % 4 == 0)
    assert (m0.s_str, m0.n_int, m0.d_double, m0.b_bool, m0.parsed_ok) == (
        f"t{m0.doc_id}", m0.doc_id, m0.doc_id + 0.5, True, True)
    m1 = next(r for i, r in rows.items() if i % 4 == 1)
    # int token stringifies; double token is NOT an int; int token is NOT a
    # double; "true" (string) is NOT a bool
    assert (m1.s_str, m1.n_int, m1.d_double, m1.b_bool, m1.parsed_ok) == (
        str(m1.doc_id), None, None, None, True)
    m2 = next(r for i, r in rows.items() if i % 4 == 2)
    assert (m2.s_str, m2.n_int, m2.d_double, m2.b_bool, m2.parsed_ok) == (
        "true", None, m2.doc_id + 0.25, False, True)
    m3 = next(r for i, r in rows.items() if i % 4 == 3)
    assert (m3.s_str, m3.n_int, m3.d_double, m3.b_bool, m3.parsed_ok) == (
        None, None, None, None, False)
