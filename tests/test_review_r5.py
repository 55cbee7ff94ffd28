"""Regression tests for the round-5 core-module review findings
(pipeline.py / envelope.py / session.py / data/)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.data.transcripts import (
    TRANSCRIPTS_ORACLE_CTE,
    derive_transcripts,
    synth_transcripts,
)
from opentelemetry_collector_contrib_spark.envelope import (
    cached_session_df,
    field_delete,
    field_get,
)
from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
from opentelemetry_collector_contrib_spark.pipeline import TranscriptPipeline


def test_malformed_field_path_rejected(spark):
    """A config typo like 'attributes[]' must raise, not resolve to the
    whole attributes column and delete it."""
    df = spark.createDataFrame(
        [("x", {"k": "v"})], "body string, attributes map<string,string>"
    )
    for bad in (
        "attributes[]", "attributes[k]", "", "a..b", "attributes.", ".foo",
        ".attributes.k",
    ):
        with pytest.raises(ValueError, match="malformed field path"):
            field_delete(df, bad)
    # well-formed paths still parse
    assert field_get("attributes.k") is not None
    assert field_get('attributes["dot.key"]') is not None
    assert field_get("body") is not None


def test_synth_transcripts_zero_hot_frac_is_unskewed(spark):
    df = synth_transcripts(
        spark, n_conv=20, max_turns=5, hot_conv_frac=0.0, parallelism=4
    )
    per = df.groupBy("conv_id").count().collect()
    assert len(per) == 20
    assert {r["count"] for r in per} == {5}  # no hot conversation
    assert df.count() == 100


def test_oracle_cte_survives_malformed_props(spark):
    """The DuckDB transcripts CTE must stay error-parity with the Spark
    twin on malformed props JSON: NULL -> 'k=0', never an engine error."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1::BIGINT, TIMESTAMP '2024-01-01 00:00:01', 7::BIGINT, "
        " 'click', 12.5, 'not json'),"
        "(2::BIGINT, TIMESTAMP '2024-01-01 00:00:02', 7::BIGINT, "
        " 'view', 3.0, '{\"k\": \"9\"}')"
        ") t(event_id, ts, user_id, event_type, value, props)"
    )
    rows = con.execute(
        f"WITH {TRANSCRIPTS_ORACLE_CTE.strip()} "
        "SELECT turn_idx, text FROM transcripts ORDER BY turn_idx"
    ).fetchall()
    sdf = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:01", 7, "click", 12.5, "not json"),
            (2, "2024-01-01 00:00:02", 7, "view", 3.0, '{"k": "9"}'),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = [
        (r.turn_idx, r.text)
        for r in derive_transcripts(sdf).orderBy("turn_idx").collect()
    ]
    assert rows == want
    assert rows[0][1].endswith("k=0")  # malformed props -> default
    assert rows[1][1].endswith("k=9")


def test_router_errors_counter_zero_on_empty_frame(spark):
    coll = MetricsCollector(run_id="t")
    empty = synth_transcripts(spark, n_conv=2, max_turns=2).filter(F.lit(False))
    routed, counts = TranscriptPipeline(collector=coll)(empty)
    routed.count()  # run the observed action
    snap = {
        (r.stage, r.metric): r.value
        for r in coll.snapshot(spark).collect()
    }
    assert snap.get(("router", "rows")) == 0.0
    assert snap.get(("router", "errors")) == 0.0  # not None/missing


def test_cached_session_df_builds_once(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1,)], "x int")

    a = cached_session_df(spark, ("t", "k1"), build)
    b = cached_session_df(spark, ("t", "k1"), build)
    assert a is b and len(calls) == 1
    cached_session_df(spark, ("t", "k2"), build)
    assert len(calls) == 2
