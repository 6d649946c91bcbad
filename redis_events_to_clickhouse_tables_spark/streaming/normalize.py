"""Per-batch event normalization (reference parity: P1-P8).

The reference rewrites every event row before INSERT
(clickhouse-batch-client.class.ts:190-300):

  P1 drop reserved/bookkeeping keys          (:197-205)
  P2 snake_case every column name            (:222-267)
  P3 struct -> prefixed columns, or
  P4 struct -> JSON string                   (:250-264)
  P5 array -> positional columns, or
  P6 array -> JSON string                    (:209-247)
  P7 stamp received_at / sent_at / message_id (:280-288)
  P8 user transform hook                     (:290, src/transform.ts)

Here the whole pipeline is one column-expression projection over a
typed DataFrame, all JVM-side. The ingest engine normalizes a whole
micro-batch in one routed pass, whatever the number of event types:

  1. one aggregate grouped by the routing key: the routing table, the
     per-type and missing-key counts, and the max array lengths (P5);
  2. one flattened projection of every routed row, persisted once;
  3. one aggregate over that cache grouped by the routing key: each
     type's column presence (F3/G2) and date-string refinement (D1).

Each table's frame is then a filter of the cache plus its own
refinements. The batch schema is already the union across types, so
another type's keys and array positions past a type's own maximum are
NULL for that type and drop under the presence rule. A single table's
frame (DLQ retry, direct callers) is the one-group case of the same
code.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import IngestConfig
from ..functions.names import snake_case
from ..plans.inference import _is_date_string, sniff_timestamp

SYSTEM_COLUMNS = ("received_at", "sent_at", "message_id")
# carries the routing value through the flattened projection;
# snake_case never yields a leading underscore, so no payload column
# can take this name
ROUTE_COLUMN = "__route"

# Steady-state expression cache (VERDICT r9 item 5): in a long-running
# ingest the SAME event shapes arrive micro-batch after micro-batch,
# and rebuilding the P2-P7 projection re-issues hundreds of py4j
# round-trips per (batch x event type) to construct identical Column
# trees. Column objects are immutable unresolved expression trees —
# reusing one across DataFrames of the same schema is exactly how a
# loop-invariant expression should behave — so the built (body,
# received_at) pair is memoized on the full decision signature:
# (JVM application id, payload schema JSON, cfg knobs that shape the
# projection, batch max array lengths). The application id guards
# against a restarted JVM invalidating the cached py4j handles; the
# dict is bounded FIFO so a schema-churning workload can't grow it
# unboundedly.
_EXPR_CACHE: dict[tuple, tuple] = {}
_EXPR_CACHE_MAX = 256


def _cache_put(key: tuple, value) -> None:
    if len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
        _EXPR_CACHE.pop(next(iter(_EXPR_CACHE)))
    _EXPR_CACHE[key] = value


def _cfg_expr_sig(cfg: IngestConfig) -> tuple:
    """The cfg fields that influence the P1-P7 expression list."""
    return (
        cfg.event_type_property,
        tuple(sorted(cfg.reserved_keys)),
        cfg.split_records_as_columns,
        cfg.split_array_items_as_columns,
    )


def default_transform(df: DataFrame) -> DataFrame:
    """The reference's default transform: timestamp = received_at
    (src/transform.ts:9-12)."""
    return df.withColumn("timestamp", F.col("received_at"))


def _received_at_expr(df: DataFrame, col_name: str | None) -> Column:
    """P7 precursor: received_at is stamped once and survives
    re-delivery (reference: __received_at, src/main.ts:278-282).
    ``col_name`` is the (possibly renamed) physical column holding the
    carried value, or None when the batch never carried one."""
    if col_name is None or col_name not in df.columns:
        return F.current_timestamp()
    src = F.col(f"`{col_name}`")
    dt = df.schema[col_name].dataType
    if isinstance(dt, T.StringType):
        parsed = sniff_timestamp(src)
    elif isinstance(dt, T.TimestampType):
        parsed = src
    elif isinstance(dt, (T.LongType, T.DoubleType)):
        # try_ casts: an out-of-range value falls back to the stamp
        # time like an unparseable string, never failing the batch
        parsed = F.timestamp_micros(F.try_multiply(src.try_cast("long"), F.lit(1000)))
    else:
        parsed = F.lit(None).cast("timestamp")
    return F.coalesce(parsed, F.current_timestamp())


def _splittable(dt: T.StructType) -> bool:
    """A struct can only split into columns when no two field names
    collide under Spark's case-insensitive resolution — otherwise
    ``getField`` is ambiguous. Colliding structs fall back to P4
    JSON-stringify (lossless; the conservative choice)."""
    names = [f.name.lower() for f in dt.fields]
    return len(set(names)) == len(names)


def _flatten_exprs(
    fields: list[tuple[str, str, T.DataType]],
    cfg: IngestConfig,
    max_lens: dict[str, int],
) -> list[tuple[str, Column]]:
    """P2-P6 as a (name, expression) projection list over the payload.

    ``fields`` is (original_name, unique_temp_name, type): expressions
    reference the collision-proof temp names, output aliases derive
    from the original names.
    """
    out: list[tuple[str, Column]] = []

    def add(name: str, col: Column, dt: T.DataType | None = None) -> None:
        # output tables are strictly flat (the reference's model): a
        # value still complex after the one-level split — a depth-2
        # record, an array inside a record — JSON-stringifies, exactly
        # like the reference's JSON.stringify of non-split nesting
        if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
            col = F.to_json(col)
        out.append((name, col.alias(name)))

    for name, tmp, dt in fields:
        qcol = F.col(f"`{tmp}`")
        if isinstance(dt, T.StructType):
            if cfg.split_records_as_columns and _splittable(dt):
                # P3: {'a': {'subKey': v}} -> a_sub_key
                for sub in dt.fields:
                    add(
                        snake_case(f"{name}_{sub.name}"),
                        qcol.getField(sub.name),
                        sub.dataType,
                    )
            else:
                # P4: JSON-stringify the record
                add(snake_case(name), F.to_json(qcol))
        elif isinstance(dt, T.ArrayType):
            if cfg.split_array_items_as_columns:
                # P5: positional columns k_0..k_{max-1}
                elem = dt.elementType
                for i in range(max_lens.get(tmp, 0)):
                    # F.get, not getItem/[]: max_lens is the BATCH max,
                    # so a row whose (non-null) array is shorter must
                    # yield NULL for the missing positions — under ANSI
                    # mode arr[i] throws INVALID_ARRAY_INDEX instead
                    item = F.get(qcol, F.lit(i))
                    if isinstance(elem, T.StructType):
                        if cfg.split_records_as_columns and _splittable(elem):
                            for sub in elem.fields:
                                add(
                                    snake_case(f"{name}_{i}_{sub.name}"),
                                    item.getField(sub.name),
                                    sub.dataType,
                                )
                        else:
                            add(snake_case(f"{name}_{i}"), F.to_json(item))
                    else:
                        add(snake_case(f"{name}_{i}"), item, elem)
            else:
                # P6: JSON-stringify the whole array
                add(snake_case(name), F.to_json(qcol))
        else:
            add(snake_case(name), qcol)
    # snake_case can collide ('aB' and 'a_b' both -> a_b; keys differing
    # only by case fold together): LAST value wins, first position kept —
    # exactly JS object assignment, which is what the reference's
    # row-object spread does (clickhouse-batch-client.class.ts:190-273)
    dedup: dict[str, Column] = {}
    for name, col in out:
        dedup[name] = col
    return list(dedup.items())


@dataclass
class RoutedBatch:
    """One batch normalized per routing value (see :func:`normalize_events`).

    ``frames`` maps each routing value to its table's normalized frame;
    ``counts`` maps every routing value to its row count, with the
    missing-key bucket under ``None``. ``release()`` unpersists the
    shared flattened cache the frames read from.
    """

    frames: dict[Any, DataFrame]
    counts: dict[Any, int]
    cached: DataFrame | None = None

    def release(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


def normalize_events(
    df: DataFrame,
    cfg: IngestConfig | None = None,
    route_by: str | None = None,
) -> DataFrame | RoutedBatch:
    """Full P1-P8 pipeline over a typed event DataFrame.

    Without ``route_by`` every row is one table's row and the
    normalized frame is returned. With ``route_by`` (the routing-key
    column, G1) the rows are normalized per routing value in one pass
    and a :class:`RoutedBatch` is returned; its flattened cache is
    persisted and the caller must ``release()`` it after writing.
    Rows whose routing value is NULL are only counted (F1).
    """
    cfg = cfg or IngestConfig()

    # Positional rename to collision-proof temp names FIRST: event keys
    # that differ only in case ('J' vs 'j') are distinct JSON fields but
    # ambiguous to Spark's case-insensitive column resolution — toDF is
    # positional, so every later access is unambiguous.
    orig_names = [f.name for f in df.schema.fields]
    tmp_names = [f"__p{i}" for i in range(len(orig_names))]
    tmp_of = dict(zip(orig_names, tmp_names))
    renamed = df.toDF(*tmp_names)
    # the single-table case is the one-group case of the same pipeline
    key = F.lit(0) if route_by is None else F.col(f"`{tmp_of[route_by]}`")

    # P1: drop routing + bookkeeping keys
    drop = {cfg.event_type_property, *cfg.reserved_keys}
    payload = [
        (f.name, tmp, f.dataType)
        for f, tmp in zip(df.schema.fields, tmp_names)
        if f.name not in drop
    ]

    # G1 routing table + F1 counts + P5 max array lengths per routing
    # value: one grouped aggregate (cardinality bounded by the number
    # of destination tables, like the reference's bulker map)
    array_tmps = (
        [tmp for _, tmp, dt in payload if isinstance(dt, T.ArrayType)]
        if cfg.split_array_items_as_columns
        else []
    )
    groups = (
        renamed.groupBy(key.alias(ROUTE_COLUMN))
        .agg(
            F.count(F.lit(1)).alias("__n_rows"),
            *[F.max(F.size(F.col(f"`{c}`"))).alias(c) for c in array_tmps],
        )
        .collect()
    )
    counts = {r[ROUTE_COLUMN]: int(r["__n_rows"]) for r in groups}
    if route_by is None:
        counts.setdefault(0, 0)  # an empty frame still yields its table
    routed = [r for r in groups if r[ROUTE_COLUMN] is not None]
    if not routed and route_by is not None:
        return RoutedBatch({}, counts)
    # batch-wide max: positions past one type's own max are NULL for
    # that type and drop with its other never-defined columns below
    max_lens = {c: max((r[c] or 0 for r in routed), default=0) for c in array_tmps}

    # key on the ORIGINAL schema (temp names are positional, so the
    # original names + types determine every expression built below)
    cache_key = (
        df.sparkSession.sparkContext.applicationId,
        df.schema.json(),
        _cfg_expr_sig(cfg),
        tuple(sorted(max_lens.items())),
    )
    hit = _EXPR_CACHE.get(cache_key)
    if hit is not None:
        body, received_at = hit
    else:
        received_at = _received_at_expr(renamed, tmp_of.get("__received_at"))
        body = _flatten_exprs(payload, cfg, max_lens)
        # system columns overwrite same-named payload columns (the
        # reference assigns them after spreading the row,
        # clickhouse-batch-client.class.ts:280-288)
        body = [(n, c) for n, c in body if n not in SYSTEM_COLUMNS]
        _cache_put(cache_key, (body, received_at))

    # P2-P7 in one projection over every routed row; the routing value
    # rides along under a name no snake_case payload column can take
    source = renamed if route_by is None else renamed.filter(key.isNotNull())
    flat = source.select(
        key.alias(ROUTE_COLUMN),
        *[c for _, c in body],
        received_at.alias("received_at"),
        F.current_timestamp().alias("sent_at"),
        F.expr("uuid()").alias("message_id"),
    )
    cached: DataFrame | None = None
    if route_by is not None:
        # persist BEFORE the refinement aggregate: that aggregate is
        # the job that fills the cache, and every table's count, evolve
        # and append reads the cache instead of re-running the flatten.
        # Also pins current_timestamp()/uuid() so replayed reads of the
        # frame can't re-stamp them.
        cached = flat = flat.persist()

    # D1 refinement + F3/G2 presence per routing value in ONE grouped
    # aggregate: string payload columns that are date-strings in every
    # defined row of a type become timestamps for that type, and a
    # column participates in a type's table only if some row of that
    # type defines it (reference getColsMinimumList,
    # clickhouse-batch-client.class.ts:383-395). The aggregate and the
    # per-table column expressions are the second per-batch py4j
    # builder on the hot path (_is_date_string is a deep tree) —
    # memoized on the same signature: flat's schema is fully
    # determined by cache_key.
    agg_key = (*cache_key, "refinement_aggs")
    hit = _EXPR_CACHE.get(agg_key)
    if hit is None:
        schema = flat.schema
        payload_cols = [
            f.name for f in schema.fields if f.name not in (ROUTE_COLUMN, *SYSTEM_COLUMNS)
        ]
        string_cols = [
            c for c in payload_cols if isinstance(schema[c].dataType, T.StringType)
        ]
        plain = {c: F.col(f"`{c}`") for c in (*payload_cols, *SYSTEM_COLUMNS)}
        dated = {c: sniff_timestamp(plain[c]).alias(c) for c in string_cols}
        aggs = [
            F.count(plain[c]).alias(f"__n_{i}") for i, c in enumerate(payload_cols)
        ] + [
            F.min(
                F.when(plain[c].isNotNull(), _is_date_string(plain[c]).cast("int"))
            ).alias(f"__d_{i}")
            for i, c in enumerate(string_cols)
        ]
        hit = (payload_cols, string_cols, aggs, plain, dated)
        _cache_put(agg_key, hit)
    payload_cols, string_cols, aggs, plain, dated = hit
    decided: dict[Any, Row] = {}
    if payload_cols:
        decided = {
            r[ROUTE_COLUMN]: r for r in flat.groupBy(ROUTE_COLUMN).agg(*aggs).collect()
        }

    # P8: transform hook (default adds timestamp = received_at)
    transform = cfg.transform or default_transform
    frames: dict[Any, DataFrame] = {}
    for value in counts:
        if value is None:
            continue
        row = decided[value].asDict() if value in decided else {}
        refined = {c for i, c in enumerate(string_cols) if row.get(f"__d_{i}") == 1}
        cols = [
            dated[c] if c in refined else plain[c]
            for i, c in enumerate(payload_cols)
            if row.get(f"__n_{i}")
        ]
        table = flat.filter(F.col(ROUTE_COLUMN) == F.lit(value)).select(
            *cols, *[plain[c] for c in SYSTEM_COLUMNS]
        )
        frames[value] = transform(table)
    if route_by is None:
        return frames[0]
    return RoutedBatch(frames, counts, cached)
