"""LogRecord envelope: the fixed top-level row schema.

Mirrors stanza ``entry.Entry`` / pdata ``plog.LogRecord``
(reference: pkg/stanza/entry/entry.go:14-26) as a columnar Spark
schema (SURVEY.md section 1.4). Free-form metadata lives in
``attributes``/``resource`` MAP<STRING,STRING> columns; hot keys
should be promoted to real columns so Catalyst can prune/push down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SESSION_DF_CACHE: "weakref.WeakKeyDictionary" = None  # built lazily


def cached_session_df(spark, key, build) -> DataFrame:
    """Session-keyed DataFrame cache: ``build()`` runs once per
    (session, key). Building a small dim frame costs ~20 ms of driver
    round-trip with :func:`local_frame` (~25-30 ms with
    ``createDataFrame(<list>)``; 4-vCPU host, ``local[4]``), and dim
    frames built inside a bench's timed loop land straight in the
    serial fraction. WeakKeyDictionary on the SESSION OBJECT itself —
    not its id — so entries die with the session and a recycled id can
    never serve a stale frame from a stopped session (the subtlety both former copies of this pattern
    documented; one shared implementation now, r05 review)."""
    global _SESSION_DF_CACHE
    if _SESSION_DF_CACHE is None:
        import weakref

        _SESSION_DF_CACHE = weakref.WeakKeyDictionary()
    per = _SESSION_DF_CACHE.setdefault(spark, {})
    if key not in per:
        per[key] = build()
    return per[key]


def local_frame(spark, rows, schema: str | StructType) -> DataFrame:
    """Driver-side rows (tuples in schema order) -> a DataFrame over a
    ``LocalRelation``. ``schema`` is a DDL string or a ``StructType``.

    ``spark.createDataFrame(<list>, schema)`` yields a ``LogicalRDD``
    over a parallelized, pickled RDD: every scan of it (a broadcast
    build side included) runs a job whose tasks start Python workers to
    unpickle the rows. A pyarrow table goes to the JVM as Arrow batches
    instead and becomes a ``LocalRelation`` (planned as a
    ``LocalTableScan``: no job, no Python worker), whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Every small
    constant table the package builds on the driver goes through
    here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    # strict: a row of the wrong width fails loudly, as it does in
    # createDataFrame's schema check
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def try_element_at(col: Column | str, extraction) -> Column:
    """ANSI-safe element_at with element_at's LITERAL key semantics.

    ``F.try_element_at`` types its second argument as ColumnOrName — a
    plain string is resolved as a COLUMN NAME, unlike ``F.element_at``
    which treats it as a literal map key. Every call site in this
    package means the literal, so this wrapper lifts non-Column keys
    with ``lit()`` before delegating. Under ANSI-on sessions (the
    driver default) a missing map key / out-of-range index yields null
    (the reference's nil) instead of throwing.
    """
    if not isinstance(extraction, Column):
        extraction = F.lit(extraction)
    if isinstance(col, str):
        col = F.col(col)
    return F.try_element_at(col, extraction)


ENVELOPE_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),          # entry.Timestamp
        StructField("observed_ts", TimestampType()),  # entry.ObservedTimestamp
        StructField("body", StringType()),
        StructField("attributes", MapType(StringType(), StringType())),
        StructField("resource", MapType(StringType(), StringType())),
        StructField("severity_text", StringType()),
        StructField("severity_number", IntegerType()),
        StructField("trace_id", BinaryType()),
        StructField("span_id", BinaryType()),
        StructField("scope", StringType()),
    ]
)


def transcripts_to_envelope(df: DataFrame) -> DataFrame:
    """Map the transcript payload into the envelope (SURVEY.md 1.4 table):
    text->body, (role, tool)->attributes, conv_id/turn_idx->resource."""
    return df.select(
        F.col("ts"),
        F.current_timestamp().alias("observed_ts"),
        F.col("text").alias("body"),
        F.map_from_arrays(
            F.array(F.lit("role"), F.lit("tool")),
            F.array(F.col("role"), F.col("tool")),
        ).alias("attributes"),
        F.map_from_arrays(
            F.array(F.lit("conv_id"), F.lit("turn_idx")),
            F.array(F.col("conv_id"), F.col("turn_idx").cast("string")),
        ).alias("resource"),
        F.lit(None).cast("string").alias("severity_text"),
        F.lit(None).cast("int").alias("severity_number"),
        F.lit(None).cast("binary").alias("trace_id"),
        F.lit(None).cast("binary").alias("span_id"),
        F.lit(None).cast("string").alias("scope"),
    )


# --- entry field-path language (entry.go:52-64, field.go) ------------------
# Paths: "body", "body.x.y" (struct body), "attributes.k" / attributes["k"],
# "resource.k", or any plain top-level column name.


def _split(path: str) -> list[str]:
    """Bracketed keys are atomic — ``attributes["to.int"]`` is the
    stanza field syntax for map keys that contain dots
    (pkg/stanza/entry/field.go fromJSONDot), so dots inside brackets
    must not split. Rejects malformed paths loudly: these come from
    user config, and silently skipping unmatched characters would
    resolve e.g. ``attributes[]`` to the whole ``attributes`` column —
    a config typo must not become a column-wide delete."""
    import re

    parts, covered = [], 0
    for m in re.finditer(r"\[\"([^\"]*)\"\]|\['([^']*)'\]|([^.\[\]]+)", path):
        # separators between tokens may only be single dots, and
        # nothing may precede the first token ('.foo' is a typo too)
        gap = path[covered : m.start()]
        if gap not in (("", ".") if parts else ("",)):
            raise ValueError(f"malformed field path: {path!r}")
        parts.append(next(g for g in m.groups() if g is not None))
        covered = m.end()
    if not parts or covered != len(path):
        raise ValueError(f"malformed field path: {path!r}")
    return parts


def field_get(path: str) -> Column:
    """Resolve an entry field path to a Column (Get semantics)."""
    parts = _split(path)
    head = parts[0]
    if head in ("attributes", "resource") and len(parts) > 1:
        if len(parts) != 2:
            # mirror field_set: a second element_at over the map's
            # STRING value would only die later with an opaque
            # analysis-time datatype mismatch
            raise ValueError(f"nested map path not supported: {path}")
        return try_element_at(F.col(head), parts[1])
    col = F.col(head)
    for key in parts[1:]:
        col = col.getField(key)
    return col


def field_set(df: DataFrame, path: str, value: Column) -> DataFrame:
    """Set an entry field path (Set semantics). Map fields upsert the key
    (filter-then-concat so it is independent of mapKeyDedupPolicy)."""
    parts = _split(path)
    head = parts[0]
    if head in ("attributes", "resource") and len(parts) > 1:
        if len(parts) != 2:
            raise ValueError(f"nested map path not supported: {path}")
        key = parts[1]
        existing = F.coalesce(
            F.col(head), F.from_json(F.lit("{}"), "map<string,string>")
        )
        cleaned = F.map_filter(existing, lambda k, _: k != F.lit(key))
        entry = F.create_map(F.lit(key), value.cast("string"))
        # null value = key absent (map semantics parity with pdata maps)
        updated = F.map_concat(
            cleaned, F.map_filter(entry, lambda _, v: v.isNotNull())
        )
        return df.withColumn(head, updated)
    if len(parts) == 1:
        return df.withColumn(head, value)
    raise ValueError(f"cannot set nested non-map path: {path}")


def field_delete(df: DataFrame, path: str) -> DataFrame:
    parts = _split(path)
    head = parts[0]
    if head in ("attributes", "resource") and len(parts) == 2:
        key = parts[1]
        return df.withColumn(
            head, F.map_filter(F.col(head), lambda k, _: k != F.lit(key))
        )
    if len(parts) == 1:
        return df.drop(head)
    raise ValueError(f"cannot delete path: {path}")
