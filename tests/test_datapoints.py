"""OTTL datapoint context (processors/datapoints.py).

Statement shapes ported from the reference transform processor's
metrics tests (processor/transformprocessor/internal/metrics/
processor_test.go:228-340) and the ottldatapoint path surface
(pkg/ottl/contexts/ottldatapoint/datapoint.go:185-260), adapted to the
repo's flat one-row-per-datapoint metric frame convention.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.processors.datapoints import (
    DataPointFilter,
    DataPointTransform,
)


def _metrics(spark):
    """Two number metrics + one histogram metric, two dps each —
    the processor_test.go fixture shape (operationA/operationB)."""
    rows = [
        # metric_name, metric_type, temporality, is_monotonic, unit,
        # description, value, count, hsum, attributes, resource, ts
        ("operationA", "sum", "cumulative", False, "1", "desc A",
         1.0, None, None, {"attr1": "test1", "flags": "A|B|C"},
         {"host.name": "myhost"}, datetime.datetime(2024, 1, 1, 0, 0, 1)),
        ("operationA", "sum", "cumulative", False, "1", "desc A",
         3.75, None, None, {"attr1": "other"},
         {"host.name": "myhost"}, datetime.datetime(2024, 1, 1, 0, 0, 2)),
        ("operationB", "gauge", None, None, "ms", "desc B",
         2.5, None, None, {"attr1": "test1"},
         {"host.name": "otherhost"}, datetime.datetime(2024, 1, 1, 0, 0, 3)),
        ("operationC", "histogram", "delta", None, "ms", "desc C",
         None, 1, 10.5, {"attr2": "test2"},
         {"host.name": "myhost"}, datetime.datetime(2024, 1, 1, 0, 0, 4)),
        ("operationC", "histogram", "delta", None, "ms", "desc C",
         None, 4, None, {"attr2": "other"},
         {"host.name": "myhost"}, datetime.datetime(2024, 1, 1, 0, 0, 5)),
    ]
    return spark.createDataFrame(
        rows,
        "metric_name string, metric_type string, temporality string, "
        "is_monotonic boolean, unit string, description string, "
        "value double, count long, hsum double, "
        "attributes map<string,string>, resource map<string,string>, "
        "ts timestamp",
    )


def _attr(row, key):
    return (row.attributes or {}).get(key)


def test_set_attribute_all_datapoints(spark):
    out = DataPointTransform(['set(attributes["test"], "pass")'])(
        _metrics(spark)
    ).collect()
    assert all(_attr(r, "test") == "pass" for r in out)
    assert len(out) == 5


def test_set_attribute_where_metric_name(spark):
    # processor_test.go:228
    out = DataPointTransform(
        ['set(attributes["test"], "pass") where metric.name == "operationA"']
    )(_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "test") == "pass") == (r.metric_name == "operationA")


def test_set_attribute_where_resource(spark):
    # processor_test.go:235
    out = DataPointTransform(
        ['set(attributes["test"], "pass") where '
         'resource.attributes["host.name"] == "myhost"']
    )(_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "test") == "pass") == (
            r.resource["host.name"] == "myhost"
        )


def test_set_metric_description_where_attribute(spark):
    # processor_test.go:271 — a metric-level write from a datapoint
    # guard applies to the guarded datapoint's row (flat convention:
    # metric columns are inlined per row)
    out = DataPointTransform(
        ['set(metric.description, "test") where attributes["attr1"] == "test1"']
    )(_metrics(spark)).collect()
    for r in out:
        want = "test" if _attr(r, "attr1") == "test1" else None
        assert r.description == (want or r.description)
        if _attr(r, "attr1") == "test1":
            assert r.description == "test"


def test_set_metric_unit_all(spark):
    # processor_test.go:280
    out = DataPointTransform(['set(metric.unit, "new unit")'])(
        _metrics(spark)
    ).collect()
    assert all(r.unit == "new unit" for r in out)


def test_set_is_monotonic_where(spark):
    # processor_test.go:303
    out = DataPointTransform(
        ["set(metric.is_monotonic, true) where metric.is_monotonic == false"]
    )(_metrics(spark)).collect()
    for r in out:
        if r.metric_name == "operationA":
            assert r.is_monotonic is True
        elif r.metric_name == "operationB":
            assert r.is_monotonic is None  # null guard: untouched


def test_where_count_histogram_path(spark):
    # processor_test.go:309
    out = DataPointTransform(
        ['set(attributes["test"], "pass") where count == 1']
    )(_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "test") == "pass") == (r["count"] == 1)


def test_where_sum_path_maps_to_hsum(spark):
    out = DataPointTransform(
        ['set(attributes["test"], "pass") where sum == 10.5']
    )(_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "test") == "pass") == (r.hsum == 10.5)


def test_int_of_value_double_attribute(spark):
    # processor_test.go:255 — set(attributes["int_value"],
    # Int(value_double))
    out = DataPointTransform(
        ['set(attributes["int_value"], Int(value_double)) '
         'where metric.name == "operationA"']
    )(_metrics(spark)).collect()
    got = {
        (r.metric_name, float(r.value) if r.value is not None else None):
            _attr(r, "int_value")
        for r in out
    }
    assert got[("operationA", 1.0)] == "1"
    assert got[("operationA", 3.75)] == "3"
    assert got[("operationB", 2.5)] is None


def test_write_value_double(spark):
    out = DataPointTransform(
        ['set(value_double, 9.5) where metric.name == "operationB"']
    )(_metrics(spark)).collect()
    for r in out:
        if r.metric_name == "operationB":
            assert r.value == 9.5
        elif r.metric_name == "operationA":
            assert r.value in (1.0, 3.75)


def test_write_value_int_binds_value(spark):
    out = DataPointTransform(
        ['set(value_int, 7) where metric.name == "operationA"']
    )(_metrics(spark)).collect()
    vals = {r.value for r in out if r.metric_name == "operationA"}
    assert vals == {7.0}  # cast back to the flat column's double type
    # schema round-trips
    assert dict(
        DataPointTransform(["set(value_int, 7)"])(_metrics(spark)).dtypes
    )["value"] == "double"


def test_write_both_value_kinds_rejected(spark):
    with pytest.raises(ValueError, match="value_double OR"):
        DataPointTransform(
            ["set(value_double, 1.0)", "set(value_int, 1)"]
        )(_metrics(spark))


def test_value_write_without_value_column_rejected(spark):
    """A value_int/value_double write on a frame with no flat ``value``
    column has nowhere to land: raise instead of dropping it."""
    m = _metrics(spark).drop("value")
    for stmt in ("set(value_double, 1.0)", "set(value_int, 1)"):
        with pytest.raises(ValueError, match="no 'value' column"):
            DataPointTransform([stmt])(m)
    # statements that do not write a value still run on such a frame
    out = DataPointTransform(['set(attributes["k"], "v")'])(m)
    assert out.columns == m.columns


def test_cache_columns_do_not_leak(spark):
    """cache.* is statement-sequence scratch: it may feed later
    statements but never reaches the flat output frame."""
    m = _metrics(spark)
    out = DataPointTransform(
        [
            'set(cache["name"], metric.name)',
            'set(attributes["from_cache"], cache["name"])',
        ]
    )(m)
    assert out.columns == m.columns
    assert all(_attr(r, "from_cache") == r.metric_name for r in out.collect())


def test_time_and_unix_nano_paths(spark):
    out = DataPointTransform(
        ['set(attributes["nano"], String(time_unix_nano))']
    )(_metrics(spark)).collect()
    r = next(x for x in out if x.metric_name == "operationB")
    assert _attr(r, "nano") == str(
        int(r.ts.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**9
    )


def test_statement_order_and_flatten_roundtrip(spark):
    m = _metrics(spark)
    out = DataPointTransform(
        [
            'set(metric.name, "renamed") where metric.name == "operationB"',
            'set(attributes["seen"], metric.name)',
        ]
    )(m)
    assert out.columns == m.columns
    rows = out.collect()
    assert {r.metric_name for r in rows} == {
        "operationA", "renamed", "operationC"
    }
    assert all(_attr(r, "seen") == r.metric_name for r in rows)


def test_filter_drops_matching_datapoints(spark):
    # filterprocessor metrics.datapoint branch: matching dps drop; a
    # metric whose every dp matches disappears entirely
    out = DataPointFilter(
        ['metric.name == "operationA"', "count == 4"]
    )(_metrics(spark)).collect()
    names = [r.metric_name for r in out]
    assert "operationA" not in names
    assert names.count("operationC") == 1
    assert next(r for r in out if r.metric_name == "operationC")["count"] == 1


def test_filter_null_condition_keeps(spark):
    # three-valued logic: a null condition must not drop the row
    out = DataPointFilter(["value_double > 100.0"])(_metrics(spark))
    assert out.count() == 5


def test_filter_empty_conditions_noop(spark):
    m = _metrics(spark)
    assert DataPointFilter([])(m) is m


def _expo_metrics(spark):
    """Exponential-histogram / summary datapoint rows carrying the
    reference's expo + summary sub-path columns (datapoint.go:223-260:
    scale, zero_count, positive.offset/bucket_counts, bucket_counts,
    explicit_bounds, quantile_values)."""
    rows = [
        ("expoA", "exponential_histogram", 1, 1,
         {"offset": 1, "bucket_counts": [1, 2, 3]},
         {"offset": 0, "bucket_counts": [4]},
         None, None, None, {}),
        ("expoB", "exponential_histogram", 2, 0,
         {"offset": 3, "bucket_counts": [5]},
         {"offset": 1, "bucket_counts": [6]},
         None, None, None, {}),
        ("histC", "histogram", None, None, None, None,
         [1, 10, 5], [0.1, 0.5], None, {}),
        ("summD", "summary", None, None, None, None, None, None,
         [{"quantile": 0.5, "value": 2.0}, {"quantile": 0.99, "value": 9.0}],
         {}),
    ]
    return spark.createDataFrame(
        rows,
        "metric_name string, metric_type string, scale int, "
        "zero_count long, "
        "positive struct<offset:int, bucket_counts:array<bigint>>, "
        "negative struct<offset:int, bucket_counts:array<bigint>>, "
        "bucket_counts array<bigint>, explicit_bounds array<double>, "
        "quantile_values array<struct<quantile:double, value:double>>, "
        "attributes map<string,string>",
    )


def test_where_scale_and_zero_count(spark):
    # processor_test.go:316,322
    out = DataPointTransform(
        [
            'set(attributes["s"], "pass") where scale == 1',
            'set(attributes["z"], "pass") where zero_count == 1',
        ]
    )(_expo_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "s") == "pass") == (r.scale == 1)
        assert (_attr(r, "z") == "pass") == (r.zero_count == 1)


def test_where_positive_negative_offset(spark):
    # processor_test.go:328,334 — nested expo buckets paths
    out = DataPointTransform(
        [
            'set(attributes["p"], "pass") where positive.offset == 1',
            'set(attributes["n"], "pass") where negative.offset == 1',
        ]
    )(_expo_metrics(spark)).collect()
    for r in out:
        assert (_attr(r, "p") == "pass") == (
            r.positive is not None and r.positive.offset == 1
        )
        assert (_attr(r, "n") == "pass") == (
            r.negative is not None and r.negative.offset == 1
        )


def test_bucket_counts_and_explicit_bounds_paths(spark):
    # datapoint_test.go:599-610 — list paths index with OTTL 0-based []
    out = DataPointTransform(
        [
            'set(attributes["b1"], String(bucket_counts[1]))',
            'set(attributes["e0"], String(explicit_bounds[0]))',
        ]
    )(_expo_metrics(spark)).collect()
    hist = next(r for r in out if r.metric_name == "histC")
    assert _attr(hist, "b1") == "10"
    assert _attr(hist, "e0") == "0.1"
    # non-histogram rows: nil paths, set is a no-op
    assert _attr(next(r for r in out if r.metric_name == "expoA"), "b1") is None


def test_quantile_values_path(spark):
    # datapoint.go:257 quantile_values (summary dps)
    out = DataPointTransform(
        ['set(attributes["q50"], String(quantile_values[0].value))']
    )(_expo_metrics(spark)).collect()
    assert _attr(next(r for r in out if r.metric_name == "summD"), "q50") == "2.0"


def test_write_positive_offset_struct_field(spark):
    # nested struct-field WRITE through the generic withField path
    out = DataPointTransform(
        ["set(positive.offset, 9) where metric.name == \"expoA\""]
    )(_expo_metrics(spark)).collect()
    got = {r.metric_name: (r.positive.offset if r.positive else None) for r in out}
    assert got["expoA"] == 9 and got["expoB"] == 3 and got["histC"] is None


def test_write_value_int_preserves_unguarded_fractional_rows(spark):
    """code-review r05 finding: a guarded value_int write must NOT
    truncate the rows its where-guard does not touch."""
    out = DataPointTransform(
        ['set(value_int, 7) where metric.name == "operationA"']
    )(_metrics(spark)).collect()
    got = {(r.metric_name, i): r.value for i, r in enumerate(out)}
    b = next(r for r in out if r.metric_name == "operationB")
    assert b.value == 2.5  # fractional, unguarded: bit-exact survival
    assert {r.value for r in out if r.metric_name == "operationA"} == {7.0}


def test_transform_datapoint_plan_guard(spark):
    """The datapoint context must stay a pure projection chain: one
    pruned scan, ZERO exchanges, zero Python eval — transform
    statements and the datapoint filter both fold into whole-stage
    codegen (the SURVEY coverage-row claim, audited)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_entry_dp", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.queries()["transform_datapoint"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the filter must reach the scan side of the projections, and the
    # scan must be column-pruned to the 3 columns the query touches
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in opt
    read = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in read


def test_datapoint_transform_streaming_parity(spark, tmp_path):
    """The datapoint context is a stateless projection chain, so it
    applies to a STREAMING metric frame unchanged (the collector's
    transform processor sits mid-stream) — same statements, stream vs
    batch, identical rows."""
    src = str(tmp_path / "dp_in")
    _metrics(spark).write.mode("overwrite").parquet(src)
    xform = DataPointTransform(
        [
            'set(metric.unit, "1/s") where metric.name == "operationA"',
            'set(attributes["big"], "true") where count >= 4',
        ]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    assert stream.isStreaming
    q = (
        xform(stream)
        .writeStream.format("memory")
        .queryName("dp_mem")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_dp"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT metric_name, unit, attributes['big'] AS big, value, count "
        "FROM dp_mem"
    ).collect()
    want = xform(spark.read.parquet(src)).selectExpr(
        "metric_name", "unit", "attributes['big'] AS big", "value", "count"
    ).collect()
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == 5


def test_flags_and_exemplars_passthrough_paths(spark):
    """datapoint.go:215-219 — flags and exemplars resolve as datapoint
    paths when the frame carries them (generic column passthrough);
    exemplar sub-fields index with OTTL 0-based []."""
    rows = [
        ("m1", 1, [{"value": 1.5, "trace_id": "t1"}], {}),
        ("m2", 0, [], {}),
    ]
    df = spark.createDataFrame(
        rows,
        "metric_name string, flags int, "
        "exemplars array<struct<value:double, trace_id:string>>, "
        "attributes map<string,string>",
    )
    out = DataPointTransform(
        [
            'set(attributes["f"], String(flags))',
            'set(attributes["ex"], String(exemplars[0].value)) where flags == 1',
        ]
    )(df).collect()
    got = {r.metric_name: (r.attributes.get("f"), r.attributes.get("ex")) for r in out}
    assert got == {"m1": ("1", "1.5"), "m2": ("0", None)}


def test_setter_vectors_datapoint_paths(spark):
    """Setter table ported from datapoint_test.go:544-631 (the 'set'
    half of the get/set vectors): writes through every datapoint path
    kind — times, flags, count, sum, list columns, expo scalars —
    round-trip the flat frame."""
    rows = [
        ("m", 1, 2, 10.5, [1, 10, 5], [0.1, 0.5], 1, 1,
         "2024-01-01 00:00:10", "2024-01-01 00:00:00", {})
    ]
    df = (
        spark.createDataFrame(
            rows,
            "metric_name string, flags int, count long, hsum double, "
            "bucket_counts array<bigint>, explicit_bounds array<double>, "
            "scale int, zero_count long, ts string, start_ts string, "
            "attributes map<string,string>",
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("start_ts", F.col("start_ts").cast("timestamp"))
    )
    out = DataPointTransform(
        [
            "set(flags, 3)",
            "set(count, 7)",
            "set(sum, 99.5)",
            "set(scale, 4)",
            "set(zero_count, 2)",
            "set(bucket_counts, [2, 3])",
            "set(explicit_bounds, [9.9])",
            "set(start_time_unix_nano, 1704067205000000000)",
            "set(time_unix_nano, 1704067215000000000)",
        ]
    )(df).collect()[0]
    assert out.flags == 3
    assert out["count"] == 7
    assert out.hsum == 99.5  # sum path writes back to the flat hsum
    assert out.scale == 4
    assert out.zero_count == 2
    assert list(out.bucket_counts) == [2, 3]
    assert list(out.explicit_bounds) == [9.9]
    assert out.start_ts.second == 5   # 1704067205 = ...:00:05 UTC
    assert out.ts.second == 15
