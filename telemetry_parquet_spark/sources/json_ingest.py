"""Semi-structured (ping-style) JSON ingestion — SURVEY.md Phase 2.

Re-expresses the reference's hand-rolled JSON→Row conversion
(``SyncPingConversion.scala``, ``SyncView.scala:64-85``, ``Events.scala:32-94``)
as a declarative Spark 4 pipeline over the VARIANT type:

raw JSON strings → ``parse_json`` → path extraction with typed casts →
required-field rejection filters (counted via ``observe``) → explodes.

Why VARIANT instead of ``from_json`` + a rigid StructType: the ping format
has two shapes the struct parser cannot express —
- ``outgoing`` may be an array of batches or a single object
  (``SyncPingConversion.scala:270-289``): handled by coalescing an
  array-typed and an object-typed ``try_variant_get`` of the same path;
- ``events`` are positional heterogeneous arrays
  ``[ts, category, method, object, stringValue?, mapValues?]``
  (``Events.scala:32-80``): handled with ``$[i]`` paths and per-element
  casts; malformed entries (wrong arity/types) yield nulls and are dropped,
  matching the reference's silent-skip semantics.

All extraction is JVM-side (no Python UDFs); at 100 TB the variant parse is
a single scan-stage projection and the explodes are narrow.

The views are SQL-expression projections: every stage is one ``selectExpr``
or ``where`` over constant SQL strings assembled once at import, so the
``try_variant_get`` paths, the ``transform``/``aggregate``/
``transform_values`` lambdas, ``named_struct`` and ``CASE WHEN`` reach the
JVM as text. Building a view costs a few dozen py4j round trips (one per
string, plus a few per call). Built as a tree of ``Column`` objects, every
``F.*`` call, ``.alias`` and Python lambda was its own round trip: 1,361 for
the nested sync view, over 2,100 for flat over nested and 365 for events, or
0.2-0.4 s of driver time per daily view job at 300 pings, paid again on
every run before Spark executes anything.

Output schemas mirror the reference's (``nestedSyncType``
``SyncPingConversion.scala:93-116``, ``singleEngineFlatSyncType`` ``:118-157``,
``syncEventSchema`` ``SyncEventView.scala:125-149``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- typed cast targets (DDL strings mirroring the reference's structs) ---

OUTGOING_DDL = "struct<sent:bigint,failed:bigint>"
DEVICE_DDL = "array<struct<id:string,version:string,os:string>>"
NAMED_COUNT_DDL = "array<struct<name:string,count:bigint>>"
STEP_DDL = (
    "array<struct<name:string,took:bigint,counts:array<struct<name:string,count:bigint>>>>"
)


# --- SQL text builders (run once, at import) ---


def _get(src: str, path: str, typ: str) -> str:
    return f"try_variant_get({src}, '{path}', '{typ}')"


def _get0(src: str, path: str) -> str:
    """Optional numeric: absent → 0 (SyncPingConversion.scala:222-238)."""
    return f"coalesce({_get(src, path, 'bigint')}, 0)"


def _present(src: str, path: str) -> str:
    return f"{_get(src, path, 'variant')} IS NOT NULL"


def _failure_reason(src: str, path: str) -> str:
    """F16 failure-reason normalization (SyncPingConversion.scala:174-191):
    struct {name, value} where value is the object's non-name detail field,
    stringified. The reference takes "the first non-name field"; our spec
    coalesces the known detail keys (value, code, error, message, from) —
    deterministic where the reference was map-order-dependent."""
    value = ", ".join(
        _get(src, f"{path}.{k}", "string")
        for k in ("value", "code", "error", "message", "from")
    )
    name = _get(src, f"{path}.name", "string")
    return (
        f"CASE WHEN {_present(src, path)} THEN "
        f"named_struct('name', {name}, 'value', coalesce({value})) END"
    )


# Shared app/os prefix of both sync schemas. The os block appears at the top
# level on Android pings and under payload on desktop (FIXTURES.md F-2);
# payload position wins, mirroring the reference.
_APP_OS = [
    f"{_get('v', f'$.application.{key}', 'string')} AS {name}"
    for key, name in (
        ("buildId", "app_build_id"),
        ("displayVersion", "app_display_version"),
        ("name", "app_name"),
        ("version", "app_version"),
        ("channel", "app_channel"),
    )
] + [
    f"coalesce({_get('v', f'$.payload.os.{key}', 'string')}, "
    f"{_get('v', f'$.os.{key}', 'string')}) AS {name}"
    for key, name in (("name", "os"), ("version", "os_version"), ("locale", "os_locale"))
]

# One engine variant ``e`` → the nested engineType struct
# (SyncPingConversion.scala:75-84). Optional numerics default 0; outgoing
# tolerates object-instead-of-array (:270-272), and each outgoing entry's
# sent/failed default 0.
_OUTGOING = (
    f"transform(coalesce({_get('e', '$.outgoing', f'array<{OUTGOING_DDL}>')}, "
    f"CASE WHEN {_get('e', '$.outgoing', OUTGOING_DDL)} IS NOT NULL "
    f"THEN array({_get('e', '$.outgoing', OUTGOING_DDL)}) END), "
    "o -> named_struct('sent', coalesce(o.sent, 0), 'failed', coalesce(o.failed, 0)))"
)
_INCOMING = (
    f"CASE WHEN {_present('e', '$.incoming')} THEN named_struct("
    f"'applied', {_get0('e', '$.incoming.applied')}, "
    f"'failed', {_get0('e', '$.incoming.failed')}, "
    f"'new_failed', {_get0('e', '$.incoming.newFailed')}, "
    f"'reconciled', {_get0('e', '$.incoming.reconciled')}) END"
)
_VALIDATION = (
    f"CASE WHEN {_present('e', '$.validation')} THEN named_struct("
    f"'version', {_get0('e', '$.validation.version')}, "
    f"'checked', {_get0('e', '$.validation.checked')}, "
    f"'took', {_get0('e', '$.validation.took')}, "
    f"'problems', {_get('e', '$.validation.problems', NAMED_COUNT_DDL)}, "
    f"'failure_reason', {_failure_reason('e', '$.validation.failureReason')}) END"
)
_ENGINE = (
    "named_struct("
    f"'name', {_get('e', '$.name', 'string')}, "
    f"'took', {_get0('e', '$.took')}, "
    f"'status', {_get('e', '$.status', 'string')}, "
    f"'failure_reason', {_failure_reason('e', '$.failureReason')}, "
    f"'incoming', {_INCOMING}, "
    f"'outgoing', {_OUTGOING}, "
    f"'steps', {_get('e', '$.steps', STEP_DDL)}, "
    f"'validation', {_VALIDATION})"
)

# X3 stage 1: one row per sync ``s``. Old-style pings (sync fields directly
# under payload, no ``syncs`` array) become a one-element array.
_SYNCS = (
    f"coalesce({_get('v', '$.payload.syncs', 'array<variant>')}, "
    f"CASE WHEN {_get('v', '$.payload.when', 'bigint')} IS NOT NULL "
    f"THEN array({_get('v', '$.payload', 'variant')}) END)"
)
_NESTED_EXPLODE = _APP_OS + [
    f"{_get('v', '$.payload.uid', 'string')} AS uid",
    f"{_get('v', '$.payload.deviceID', 'string')} AS device_id",
    f"{_get('v', '$.payload.why', 'string')} AS payload_why",
    f"explode({_SYNCS}) AS s",
]
# X3 stage 2: the nestedSyncType row of each sync
_NESTED = [
    "app_build_id",
    "app_display_version",
    "app_name",
    "app_version",
    "app_channel",
    "os",
    "os_version",
    "os_locale",
    "uid",
    "device_id",
    f"{_get('s', '$.when', 'bigint')} AS `when`",
    f"{_get0('s', '$.took')} AS took",
    f"{_failure_reason('s', '$.failureReason')} AS failure_reason",
    f"CASE WHEN {_present('s', '$.status')} THEN named_struct("
    f"'sync', {_get('s', '$.status.sync', 'string')}, "
    f"'service', {_get('s', '$.status.service', 'string')}) END AS status",
    f"coalesce({_get('s', '$.why', 'string')}, payload_why) AS why",
    f"transform({_get('s', '$.engines', 'array<variant>')}, e -> {_ENGINE}) AS engines",
    f"{_get('s', '$.devices', DEVICE_DDL)} AS devices",
]
# P9 required-field rejection (uid: SyncPingConversion.scala:468-497;
# when: :546): drop, don't null-fill.
_ACCEPTED = "uid IS NOT NULL AND `when` IS NOT NULL"

# X4: one row per engine ``e`` of each sync, outgoing rolled up (F13)
_SYNC_KEYS = [
    "uuid() AS sync_id",
    "date_format(timestamp_millis(`when`), 'yyyyMMdd') AS sync_day",
]


def _outgoing_total(field: str) -> str:
    return (
        f"coalesce(aggregate(coalesce(e.outgoing, array()), CAST(0 AS BIGINT), "
        f"(acc, o) -> acc + coalesce(o.{field}, 0)), 0)"
    )


_FLAT_ENGINE = [
    "e.name AS engine_name",
    "coalesce(e.took, 0) AS engine_took",
    "e.status AS engine_status",
    "e.failure_reason AS engine_failure_reason",
    "coalesce(e.incoming.applied, 0) AS engine_incoming_applied",
    "coalesce(e.incoming.failed, 0) AS engine_incoming_failed",
    "coalesce(e.incoming.new_failed, 0) AS engine_incoming_new_failed",
    "coalesce(e.incoming.reconciled, 0) AS engine_incoming_reconciled",
    "coalesce(size(e.outgoing), 0) AS engine_outgoing_batch_count",
    f"{_outgoing_total('sent')} AS engine_outgoing_batch_total_sent",
    f"{_outgoing_total('failed')} AS engine_outgoing_batch_total_failed",
]

# X5: one row per positional event array ``ev``
_EVENTS_EXPLODE = [
    f"{_get('v', '$.payload.uid', 'string')} AS uid",
    f"{_get('v', '$.payload.deviceID', 'string')} AS device_id",
    f"explode({_get('v', '$.payload.events', 'array<variant>')}) AS ev",
]
# event array position i → (column, type); the first four are required
_EVENT_FIELDS = (
    ("event_timestamp", "bigint"),
    ("event_category", "string"),
    ("event_method", "string"),
    ("event_object", "string"),
    ("event_string_value", "string"),
)
_EVENT = [
    "uid",
    "device_id",
    *(f"{_get('ev', f'$[{i}]', typ)} AS {name}" for i, (name, typ) in enumerate(_EVENT_FIELDS)),
    f"transform_values({_get('ev', '$[5]', 'map<string,variant>')}, "
    f"(k, x) -> coalesce({_get('x', '$', 'string')}, 'null')) AS event_map_values",
]
_EVENT_ACCEPTED = " AND ".join(f"{name} IS NOT NULL" for name, _ in _EVENT_FIELDS[:4])


def parse_pings(raw: DataFrame, json_col: str = "json") -> DataFrame:
    """JSON strings → one variant column ``v`` (+ passthrough columns)."""
    others = [c for c in raw.columns if c != json_col]
    return raw.select(*others, F.try_parse_json(F.col(json_col)).alias("v"))


def nested_sync_view(pings: DataFrame) -> DataFrame:
    """X3 ping → N rows (one per sync): the nestedSyncType view
    (SyncPingConversion.scala:643-653 dispatch, :423-523 conversion).

    Old-style pings (sync fields directly under payload, no ``syncs`` array)
    are normalized to a one-element array before the explode. Records
    missing required fields (uid, when) are rejected — count them with
    ``nested_sync_view_observed`` (single-pass) or ``ingest_metrics``."""
    return _nested_sync_rows(pings).where(_ACCEPTED)


def _nested_sync_rows(pings: DataFrame) -> DataFrame:
    """The nested view before required-field rejection (shared by the plain
    and observed entry points)."""
    return pings.selectExpr(*_NESTED_EXPLODE).selectExpr(*_NESTED)


def flat_sync_view(nested: DataFrame) -> DataFrame:
    """X4 sync × engine flatten: singleEngineFlatSyncType
    (SyncPingConversion.scala:526-640) — each engine of each sync becomes a
    row carrying the sync-level prefix, with the outgoing array rolled up to
    (batch_count, total_sent, total_failed) via higher-order aggregate (F13,
    :250-289). sync_id synthesized when absent (F17, :597-600); sync_day is
    the yyyyMMdd key of ``when`` (F5, :546). The sync keys are computed
    before the explode, so every engine row of one sync shares its
    sync_id; an engine-less sync survives as one row with null engine
    columns (``explode_outer``)."""
    return (
        nested.selectExpr("*", *_SYNC_KEYS)
        .selectExpr("*", "explode_outer(engines) AS e")
        .selectExpr("*", *_FLAT_ENGINE)
        .drop("engines", "e")
    )


def events_view(pings: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """X5 positional heterogeneous event arrays (Events.scala:32-94,
    SyncEventView.scala:151-160): ``[ts, category, method, object,
    stringValue?, mapValues?]`` parsed with ``$[i]`` paths; entries whose
    first four elements don't parse are silently skipped (the reference's
    malformed-entry tolerance, EventsTest.scala:14-22). Map values are
    stringified with JSON-null → the literal string 'null' (F19, Bug
    1339130 semantics, Events.scala:42-58). ``extra_cols`` are passed
    through ahead of the event columns."""
    extra = list(extra_cols or [])
    return (
        pings.selectExpr(*extra, *_EVENTS_EXPLODE)
        .selectExpr(*extra, *_EVENT)
        .where(_EVENT_ACCEPTED)
    )


def enrich_events_with_devices(events: DataFrame, nested: DataFrame) -> DataFrame:
    """J2 per-ping device-map lookup (SyncEventView.scala:216-265): attach
    (device_version, device_os) for the event's ``deviceID`` map value by
    joining the exploded device list — a proper distributed equi-join
    instead of the reference's in-closure Map lookup.

    A uid may report one device id with different (version, os) across its
    syncs; the entry from the sync with the latest ``when`` wins (ties on
    ``when`` go to the greater version, then os), so the lookup is
    deterministic."""
    devices = (
        nested.selectExpr("uid AS device_uid", "`when`", "explode(devices) AS d")
        .selectExpr(
            "device_uid",
            "d.id AS device_id_key",
            "named_struct('when', `when`, 'version', d.version, 'os', d.os) AS entry",
        )
        .groupBy("device_uid", "device_id_key")
        .agg(F.max("entry").alias("entry"))
        .selectExpr(
            "device_uid",
            "device_id_key",
            "entry.version AS device_version",
            "entry.os AS device_os",
        )
    )
    ev_dev = events.withColumn(
        "event_device_id", F.element_at(F.col("event_map_values"), "deviceID")
    )
    return (
        ev_dev.join(
            F.broadcast(devices),
            (ev_dev["uid"] == devices["device_uid"])
            & (ev_dev["event_device_id"] == devices["device_id_key"]),
            "left",
        )
        .drop("device_uid", "device_id_key")
    )


def nested_sync_view_observed(raw: DataFrame, json_col: str = "json"):
    """Single-pass ingestion with accumulator-style metrics (A10,
    SyncView.scala:49-51,115-117): returns ``(nested_df, observations)``
    where the two ``Observation`` objects resolve after the FIRST action on
    the returned frame — one pipeline execution yields both the data and the
    processed/failed/ignored counts, exactly like the reference's
    accumulators (vs ``ingest_metrics``'s three separate counts).

    observations: {"parse": Observation(records_total, records_failed),
                   "syncs": Observation(syncs_exploded, syncs_rejected)}."""
    from pyspark.sql import Observation

    obs_parse = Observation("ingest_parse")
    obs_syncs = Observation("ingest_syncs")

    parsed = parse_pings(raw, json_col).observe(
        obs_parse,
        F.count(F.lit(1)).alias("records_total"),
        F.sum(F.col("v").isNull().cast("long")).alias("records_failed"),
    )
    unfiltered = _nested_sync_rows(parsed)
    observed = unfiltered.observe(
        obs_syncs,
        F.count(F.lit(1)).alias("syncs_exploded"),
        F.sum(
            (F.col("uid").isNull() | F.col("when").isNull()).cast("long")
        ).alias("syncs_rejected"),
    )
    accepted = observed.where(_ACCEPTED)
    return accepted, {"parse": obs_parse, "syncs": obs_syncs}


def ingest_metrics(raw: DataFrame, parsed: DataFrame, accepted: DataFrame) -> dict[str, int]:
    """A10 accumulator-style processed/ignored/failed counts
    (SyncView.scala:49-51,115-117), as four cheap aggregates:
    failed = unparseable pings; ignored = exploded syncs rejected by the
    required fields (``nested_sync_view_observed``'s ``syncs_rejected``);
    processed = accepted sync rows."""
    total = raw.count()
    parse_ok = parsed.where("v IS NOT NULL").count()
    exploded = parsed.selectExpr(f"explode({_SYNCS}) AS s").count()
    accepted_n = accepted.count()
    return {
        "records_total": total,
        "records_failed": total - parse_ok,
        "records_ignored": exploded - accepted_n,
        "rows_processed": accepted_n,
    }
