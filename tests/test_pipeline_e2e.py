"""End-to-end slice (SURVEY.md 7.2): parse -> enrich -> route -> aggregate
with metrics, golden-checked against DuckDB over the same events parquet."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.data import (
    TOOL_CATALOG_ORACLE_CTE,
    TRANSCRIPTS_ORACLE_CTE,
    derive_transcripts,
)
from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
from opentelemetry_collector_contrib_spark.pipeline import (
    TranscriptPipeline,
    run_flagship,
)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_counts_match_duckdb_oracle(spark, duck, sf_dir):
    got = {
        (r["metric_name"], r["route"], r["role"]): r["count"]
        for r in run_flagship(spark, sf_dir).collect()
    }
    oracle = duck.sql(f"""
        WITH {TRANSCRIPTS_ORACLE_CTE}, {TOOL_CATALOG_ORACLE_CTE},
        parsed AS (
          SELECT t.*, tc.tool_category,
                 regexp_extract(text, ' ([A-Z]+) \\[', 1) AS level
          FROM transcripts t LEFT JOIN tool_catalog tc USING (tool)
        ),
        routed AS (
          SELECT *, CASE
            WHEN level IN ('ERROR','FATAL') THEN 'sink_errors'
            WHEN tool_category = 'exec' THEN 'sink_exec'
            ELSE 'sink_default' END AS route
          FROM parsed
        )
        SELECT route, role, count(*) AS cnt FROM routed GROUP BY route, role
    """).fetchall()
    for route, role, cnt in oracle:
        assert got[("log.record.count", route, role)] == cnt, (route, role)
    # error metric: severity>=17 ⇔ level ERROR/FATAL ⇔ all of sink_errors
    err_total = sum(c for (m, r, _), c in got.items() if m == "log.error.count")
    oracle_err = duck.sql(f"""
        WITH {TRANSCRIPTS_ORACLE_CTE}
        SELECT count(*) FROM transcripts
        WHERE regexp_extract(text, ' ([A-Z]+) \\[', 1) IN ('ERROR','FATAL')
    """).fetchone()[0]
    assert err_total == oracle_err


def test_routed_row_equality_and_text_preservation(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = derive_transcripts(events)
    routed, _ = TranscriptPipeline()(t)
    # no loss/duplication in match_once mode
    assert routed.count() == t.count()
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    orig = t.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx")
    back = routed.select("conv_id", "turn_idx", "text").orderBy("conv_id", "turn_idx")
    assert [tuple(r) for r in orig.collect()] == [tuple(r) for r in back.collect()]


def test_multi_match_duplicates_rows(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = derive_transcripts(events)
    routed, _ = TranscriptPipeline(match_once=False)(t)
    n, n_in = routed.count(), t.count()
    assert n > n_in  # ERROR rows with exec tools land in both sinks
    both = (
        routed.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert both > 0


def test_metrics_collector_observes(spark, sf_dir):
    import uuid

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = derive_transcripts(events)
    mc = MetricsCollector(run_id="r1")
    p = TranscriptPipeline(collector=mc)
    routed, counts = p(t)
    routed.count()  # action triggers observations
    # the snapshot is a driver-side table: collecting it launches no
    # Spark job (a parallelized list would, with Python workers)
    sc = spark.sparkContext
    grp = f"snapshot-{uuid.uuid4().hex}"
    sc.setJobGroup(grp, grp)
    try:
        rows = mc.snapshot(spark).collect()
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(grp) == []
    snap = {(r["stage"], r["metric"]): r["value"] for r in rows}
    assert snap[("receiver", "rows")] == 1000
    assert snap[("router", "rows")] == 1000
    assert snap[("router", "errors")] > 0


def test_flagship_plan_shape_guard(spark, sf_dir):
    """Physical-plan regression guard for the scale properties SURVEY §8
    documents: enrich joins stay broadcast, no sort-merge joins or
    cartesian products sneak in, and the whole DAG costs at most two
    exchanges (derive row_number + the count aggregate). The DAG is
    UDF-free, so no Python worker may start in it: the driver-built
    dims (enrich, severity alias) are LocalRelations, not a LogicalRDD
    over a parallelized list, and each broadcast build side is a
    LocalTableScan."""
    import io
    import contextlib

    from opentelemetry_collector_contrib_spark.pipeline import run_flagship

    df = run_flagship(spark, sf_dir)
    optimized = _optimized_plan(df)
    assert "LogicalRDD" not in optimized, optimized
    assert "LocalRelation" in optimized, optimized
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LocalTableScan" in plan
    # Exchanges: derive's row_number + ONE for the grouping-sets count
    # (+ the final orderBy range exchange); broadcast exchanges excluded
    shuffles = [
        ln for ln in plan.splitlines()
        if ln.strip().startswith("(") is False
        and "Exchange" in ln and "BroadcastExchange" not in ln and "Reused" not in ln
    ]
    assert len(shuffles) <= 3, shuffles


def test_salting_spreads_hot_conversations(spark):
    from opentelemetry_collector_contrib_spark.data import synth_transcripts

    t = synth_transcripts(spark, n_conv=50, max_turns=10)
    routed, _ = TranscriptPipeline(salt_hot_convs=True, salt_buckets=8)(t)
    hot = routed.filter(F.col("conv_id") == "conv-000000")
    n_salts = hot.select("conv_salt").distinct().count()
    assert n_salts == 8  # hot conv spread over 8 sub-keys
    # salt is reversible: stripping it recovers conv_id
    bad = routed.filter(
        F.split(F.col("conv_salt"), "#")[0] != F.col("conv_id")
    ).count()
    assert bad == 0


def test_local_frame_matches_create_dataframe(spark):
    """local_frame gives the schema and rows createDataFrame gives, for
    every schema the package builds a driver-side table with: int vs
    long, double, string, nulls, zero rows, and a StructType of
    timestamps, maps and binary (the empty SnapshotTable read)."""
    from opentelemetry_collector_contrib_spark.data.transcripts import (
        ROLE_GROUPS,
        TOOL_CATALOG,
    )
    from opentelemetry_collector_contrib_spark.envelope import (
        ENVELOPE_SCHEMA,
        local_frame,
    )
    from opentelemetry_collector_contrib_spark.lineage import LINEAGE_SCHEMA

    cases = [
        (TOOL_CATALOG, "tool string, tool_category string, risk_level string"),
        (ROLE_GROUPS, "role string, role_group string"),
        (
            [("error", 17, "ERROR"), ("x", None, None)],
            "__sev_alias string, __sev_num int, __sev_text string",
        ),
        (
            [("r", "receiver", "rows", 1000.0, 1.7e9), ("r", "s", "m", None, 0.5)],
            "run_id string, stage string, metric string, value double, ts double",
        ),
        (
            [("run", "/t/sink", 0, 2**40, 12, "committed", 1.7e9)],
            LINEAGE_SCHEMA,
        ),
        ([(0, 0), (1, 2**40 + 7), (2, None)], "__pid__ int, __off__ bigint"),
        (
            [(0, "a", "b", 2**33), (1, "ab", "c", 1)],
            "merge_rank int, left_sym string, right_sym string, pair_count long",
        ),
        ([], ENVELOPE_SCHEMA),
    ]
    for rows, schema in cases:
        for data in (rows, []):
            want = spark.createDataFrame(data, schema)
            got = local_frame(spark, data, schema)
            assert got.schema == want.schema, schema
            assert got.collect() == want.collect(), schema
            assert "LocalRelation" in _optimized_plan(got)
