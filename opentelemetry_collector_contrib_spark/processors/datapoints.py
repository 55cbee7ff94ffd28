"""OTTL datapoint context: transform/filter statements over individual
metric datapoints.

Reference: ``pkg/ottl/contexts/ottldatapoint/datapoint.go`` —
``parsePath`` (datapoint.go:185-260) exposes per-datapoint
``attributes[...]`` / ``value_double`` / ``value_int`` / ``count`` /
``sum`` / ``flags`` / ``start_time(_unix_nano)`` / ``time(_unix_nano)``
/ ``bucket_counts`` / ``explicit_bounds`` / ``scale`` / ``zero_count``
/ ``quantile_values``, a ``metric.*`` namespace delegating to the
enclosing metric (internal/metric.go MetricPathGetSetter: name,
description, unit, type, aggregation_temporality, is_monotonic), plus
``resource.*`` / ``instrumentation_scope.*`` / ``cache``. The transform
processor's metrics path runs these per datapoint
(processor/transformprocessor/internal/metrics/processor.go), and the
filter processor's ``metrics.datapoint`` conditions drop matching
datapoints (processor/filterprocessor/metrics.go).

Spark restatement: the repo's metric frames are ALREADY one row per
datapoint with metric-level columns inlined (the transform_metrics.py
frame convention), so — unlike the spanevent context — no explode or
regroup is needed. The context is a pure FRAME CONVENTION: datapoint
fields stay top-level columns under their reference path names, and the
inlined metric columns fold into a ``metric`` struct column so
``metric.name`` etc. resolve through the compiler's struct paths (reads
via getField, writes via withField — both projections, zero shuffles).
``flatten_datapoints`` inverts the mapping afterwards, so a
statement-sequence round-trips to the flat convention every other
metrics processor in this repo consumes.

Number-value convention: the flat frame stores ONE numeric ``value``
column (the repo's metric frames are double-valued). ``value_double``
is the live read/write binding; ``value_int`` is the reference's
integer-kind twin. Exactly one of the two may be WRITTEN by a statement
sequence — ``DataPointTransform`` inspects the parsed targets and binds
the written one to ``value``; writing both in one sequence is rejected
rather than silently merged, mirroring that a pdata NumberDataPoint
holds a single value of a single kind at a time. Whichever path is
live carries the flat value UNCONVERTED (so where-guarded writes leave
untouched rows bit-exact); the non-live path is a read view
(``value_int`` reads as a try_cast long when ``value_double`` is live).

``metric.type`` follows the repo-wide string convention ('gauge',
'sum', 'histogram', 'exponential_histogram', 'summary') rather than the
pdata enum ints; ``sum`` maps to the flat frame's ``hsum`` column
(named to avoid colliding with SQL SUM in oracle twins).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ast import Call, Path, parse_statement
from ..functions.ottl import (
    compile_condition,
    compile_statement,
    drop_cache_columns,
)

# flat metric-frame column -> metric.<path> field name
# (internal/metric.go MetricPathGetSetter surface)
METRIC_FIELD_MAP = [
    ("metric_name", "name"),
    ("description", "description"),
    ("unit", "unit"),
    ("metric_type", "type"),
    ("temporality", "aggregation_temporality"),
    ("is_monotonic", "is_monotonic"),
]

#: paths whose live column is the flat frame's single ``value``
_VALUE_PATHS = ("value_double", "value_int")


def _written_value_paths(statements: list[str]) -> set[str]:
    """Which of value_double/value_int the statement targets write.
    An editor's write target is always its FIRST argument (func_set.go
    and every other ottlfuncs editor), so inspecting it suffices."""
    out: set[str] = set()
    for stmt in statements:
        editor = parse_statement(stmt).editor
        if isinstance(editor, Call) and editor.args:
            t = editor.args[0]
            if isinstance(t, Path) and str(t.parts[0]) in _VALUE_PATHS:
                out.add(str(t.parts[0]))
    return out


def datapoint_frame(
    metrics: DataFrame, live_value: str = "value_double"
) -> tuple[DataFrame, list[tuple[str, str]], dict[str, str]]:
    """Project a flat one-row-per-datapoint metric frame into the
    datapoint-context convention. Returns ``(frame, metric_fields,
    original_schema)`` for :func:`flatten_datapoints` to invert."""
    if live_value not in _VALUE_PATHS:
        raise ValueError(f"live_value must be one of {_VALUE_PATHS}")
    mfields = [(s, d) for s, d in METRIC_FIELD_MAP if s in metrics.columns]
    folded = {s for s, _ in mfields}
    cols: list[Column] = []
    for c in metrics.columns:
        if c in folded:
            continue
        if c == "hsum":
            cols.append(F.col("hsum").alias("sum"))
        elif c == "value":
            # the LIVE binding carries the flat value UNCONVERTED, so a
            # where-guarded write leaves every untouched row's exact
            # value in place (a guarded withColumn materializes the
            # otherwise-branch — a pre-truncated long view would
            # silently corrupt unguarded fractional rows); the
            # non-live twin is a read view (try_cast: the reference
            # getter returns nil for the wrong value kind, and ANSI
            # cast would throw on NaN/Inf)
            if live_value == "value_double":
                cols.append(F.col("value").cast("double").alias("value_double"))
                cols.append(F.col("value").try_cast("long").alias("value_int"))
            else:
                cols.append(F.col("value").alias("value_int"))
                cols.append(F.col("value").cast("double").alias("value_double"))
        else:
            cols.append(F.col(c))
    if mfields:
        cols.append(
            F.struct(*[F.col(s).alias(d) for s, d in mfields]).alias("metric")
        )
    return metrics.select(*cols), mfields, dict(metrics.dtypes)


def flatten_datapoints(
    frame: DataFrame,
    mfields: list[tuple[str, str]],
    orig_schema: dict[str, str],
    live_value: str = "value_double",
) -> DataFrame:
    """Invert :func:`datapoint_frame`: metric struct fields back to the
    inlined flat columns, ``sum`` back to ``hsum``, the live value path
    back to ``value`` (preserving the flat column's type via cast),
    extra columns created by statements passed through."""
    fwd = dict(mfields)  # flat column -> metric struct field
    known = set(orig_schema)
    out: list[Column] = []
    for c in orig_schema:
        if c in fwd:
            out.append(F.col("metric").getField(fwd[c]).alias(c))
        elif c == "hsum":
            out.append(F.col("sum").alias("hsum"))
        elif c == "value":
            out.append(
                F.col(live_value).cast(orig_schema["value"]).alias("value")
            )
        else:
            out.append(F.col(c))
    # statement-created datapoint columns (new attributes live inside
    # the attributes map already; this catches genuinely new top-level
    # columns) ride along after the original schema
    ctx_names = {"metric", "sum", "value_double", "value_int"}
    for c in frame.columns:
        if c not in known and c not in ctx_names:
            out.append(F.col(c))
    return frame.select(*out)


@dataclass
class DataPointTransform:
    """transformprocessor with ``context: datapoint`` — ordered OTTL
    statements over each datapoint row of a flat metric frame
    (processor/transformprocessor/internal/metrics/processor.go)."""

    statements: list[str]
    error_mode: str = "propagate"

    def __call__(self, metrics: DataFrame) -> DataFrame:
        written = _written_value_paths(self.statements)
        if len(written) > 1:
            raise ValueError(
                "a statement sequence may write value_double OR "
                "value_int, not both (a NumberDataPoint holds one value "
                "of one kind)"
            )
        if written and "value" not in metrics.columns:
            # flatten_datapoints binds the live path back to the flat
            # ``value`` column; without one the write would vanish
            raise ValueError(
                f"statements write {sorted(written)} but the metric frame "
                "has no 'value' column to hold it"
            )
        live = written.pop() if written else "value_double"
        frame, mfields, orig = datapoint_frame(metrics, live_value=live)
        for stmt in self.statements:
            frame = compile_statement(stmt, error_mode=self.error_mode)(frame)
        # cache.* is statement-sequence scratch: drop it before the
        # flatten passes new top-level columns through
        return flatten_datapoints(
            drop_cache_columns(frame), mfields, orig, live_value=live
        )


@dataclass
class DataPointFilter:
    """filterprocessor ``metrics.datapoint`` conditions: a datapoint
    matching ANY condition is DROPPED; a metric whose every datapoint
    matched disappears with its rows
    (processor/filterprocessor/metrics.go datapoint branch)."""

    conditions: list[str] = field(default_factory=list)

    def __call__(self, metrics: DataFrame) -> DataFrame:
        if not self.conditions:
            return metrics
        frame, mfields, orig = datapoint_frame(metrics)
        drop = None
        for cond in self.conditions:
            c = compile_condition(cond)
            drop = c if drop is None else (drop | c)
        kept = frame.filter(~F.coalesce(drop, F.lit(False)))
        return flatten_datapoints(kept, mfields, orig)
