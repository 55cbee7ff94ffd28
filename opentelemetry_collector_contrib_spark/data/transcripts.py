"""Canonical transcript payload (BASELINE.json ``input_hint``).

Schema: ``conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp``.

Two deterministic constructions:

1. ``derive_transcripts(events_df)`` — derives transcripts from the
   driver-provided ``events`` parquet table using ONLY operations with
   identical semantics in Spark SQL and DuckDB, so every transcript
   query in ``__spark_entry__.py`` has a DuckDB oracle (the matching
   SQL is ``TRANSCRIPTS_ORACLE_CTE``). Keep the two in lockstep.

2. ``synth_transcripts(spark, ...)`` — in-Spark generator (no files)
   with Zipf-skewed hot conv_ids for skew/bench tests, mirroring the
   fixture spec in FIXTURES.md section 1.

``text`` embeds parseable structure shaped like the reference's regex
parser corpus (named-capture groups over a log line; see
/root/reference pkg/stanza/operator/parser/regex/config.go:126-137):

    ``at=<ts> <LEVEL> [<tool>] evt=<type> code=<n> dur_ms=<n> k=<n>``

with ~5% malformed rows (``on_error`` exercise,
/root/reference pkg/stanza/operator/helper/transformer.go:97-108).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --- shared derivation recipe (keep Spark + DuckDB in lockstep) -----------

_LEVEL_CASE = """
CASE
  WHEN event_type = 'error' AND event_id % 10 = 0 THEN 'FATAL'
  WHEN event_type = 'error' THEN 'ERROR'
  WHEN event_type = 'purchase' THEN 'WARN'
  WHEN event_type = 'signup' THEN 'INFO'
  WHEN event_id % 3 = 0 THEN 'DEBUG'
  ELSE 'INFO'
END
"""

_TOOL_CASE = """
CASE event_type
  WHEN 'error' THEN 'bash'
  WHEN 'click' THEN 'search'
  WHEN 'view' THEN 'editor'
  WHEN 'purchase' THEN 'http'
  ELSE 'none'
END
"""

_ROLE_CASE = """
CASE event_id % 4
  WHEN 0 THEN 'user'
  WHEN 1 THEN 'assistant'
  WHEN 2 THEN 'system'
  ELSE 'tool'
END
"""

# DuckDB CTE. Column-for-column identical to derive_transcripts().
# strftime in DuckDB == date_format in Spark for this pattern.
TRANSCRIPTS_ORACLE_CTE = f"""
transcripts AS (
  SELECT
    'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
    -- NULLS FIRST pins DuckDB to Spark's ASC default (Spark sorts nulls
    -- first, DuckDB last) so a null ts/event_id cannot skew turn_idx
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) - 1 AS INT) AS turn_idx,
    {_ROLE_CASE} AS role,
    CASE WHEN event_id % 20 = 19 THEN
      'garbled ' || event_type || ' !!'
    ELSE
      'at=' || strftime(ts, '%Y-%m-%dT%H:%M:%S')
      || ' ' || {_LEVEL_CASE}
      || ' [' || {_TOOL_CASE} || ']'
      || ' evt=' || event_type
      || ' code=' || CAST(event_id % 7 AS VARCHAR)
      || ' dur_ms=' || CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR)
      || ' k=' || COALESCE(CASE WHEN json_valid(props)
                           THEN json_extract_string(props, '$.k') END, '0')
    END AS text,
    {_TOOL_CASE} AS tool,
    ts
  FROM events
)
"""


def derive_transcripts(events: DataFrame) -> DataFrame:
    """Spark twin of TRANSCRIPTS_ORACLE_CTE over the events table."""
    level = F.expr(_LEVEL_CASE)
    tool = F.expr(_TOOL_CASE)
    role = F.expr(_ROLE_CASE)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    text = F.when(
        F.expr("event_id % 20 = 19"),
        F.concat(F.lit("garbled "), F.col("event_type"), F.lit(" !!")),
    ).otherwise(
        F.concat(
            F.lit("at="),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit(" "),
            level,
            F.lit(" ["),
            tool,
            F.lit("]"),
            F.lit(" evt="),
            F.col("event_type"),
            F.lit(" code="),
            (F.col("event_id") % 7).cast("string"),
            F.lit(" dur_ms="),
            F.floor("value").cast("bigint").cast("string"),
            F.lit(" k="),
            F.coalesce(F.get_json_object("props", "$.k"), F.lit("0")),
        )
    )
    return events.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


def synth_transcripts(
    spark: SparkSession,
    n_conv: int = 200,
    max_turns: int = 10,
    hot_conv_frac: float = 0.01,
    hot_multiplier: int = 100,
    parallelism: int | None = None,
) -> DataFrame:
    """Deterministic in-Spark transcript generator (no files, no rand()).

    The top ``hot_conv_frac`` of conversations get ``hot_multiplier`` x
    the median turn count — the skew profile from FIXTURES.md section 9
    used by salting/AQE tests and the bench harness. Fully expression-
    based: ``spark.range`` + arithmetic, so it scales linearly and
    reproduces bit-identically at any parallelism.
    """
    if n_conv < 1 or max_turns < 1:
        raise ValueError("n_conv and max_turns must be >= 1")
    # hot_conv_frac=0.0 means NO skew (an unskewed control table must
    # be constructible); any positive fraction rounds up to >= 1
    n_hot = max(1, int(n_conv * hot_conv_frac)) if hot_conv_frac > 0 else 0
    base_turns = max_turns
    hot_turns = max_turns * hot_multiplier
    total = n_hot * hot_turns + (n_conv - n_hot) * base_turns
    rows = spark.range(0, total, 1, parallelism or spark.sparkContext.defaultParallelism)
    # map flat id -> (conv, turn): hot convs first (contiguous blocks)
    hot_block = n_hot * hot_turns
    conv = F.when(
        F.col("id") < hot_block, (F.col("id") / hot_turns).cast("long")
    ).otherwise(n_hot + ((F.col("id") - hot_block) / base_turns).cast("long"))
    turn = F.when(F.col("id") < hot_block, F.col("id") % hot_turns).otherwise(
        (F.col("id") - hot_block) % base_turns
    )
    df = rows.select(
        conv.alias("conv_n"), turn.cast("int").alias("turn_idx")
    )
    # deterministic pseudo-random stream per row: splitmix-ish arithmetic
    h = F.pmod(
        (F.col("conv_n") * 2654435761 + F.col("turn_idx") * 40503) % 2147483647,
        F.lit(1000000),
    )
    level = (
        F.when(h % 100 < 5, "FATAL")
        .when(h % 100 < 20, "ERROR")
        .when(h % 100 < 35, "WARN")
        .when(h % 100 < 55, "DEBUG")
        .otherwise("INFO")
    )
    tool = (
        F.when(h % 7 == 0, "bash")
        .when(h % 7 == 1, "search")
        .when(h % 7 == 2, "editor")
        .when(h % 7 == 3, "http")
        .otherwise("none")
    )
    role = (
        F.when(F.col("turn_idx") % 4 == 0, "user")
        .when(F.col("turn_idx") % 4 == 1, "assistant")
        .when(F.col("turn_idx") % 4 == 2, "system")
        .otherwise("tool")
    )
    ts = F.timestamp_seconds(
        F.lit(1704067200) + F.col("conv_n") * 3600 + F.col("turn_idx") * 7
    )
    text = F.when(
        h % 20 == 19, F.lit("garbled turn !!")
    ).otherwise(
        F.concat(
            F.lit("at="),
            F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit(" "),
            level,
            F.lit(" ["),
            tool,
            F.lit("] evt=synthetic code="),
            (h % 7).cast("string"),
            F.lit(" dur_ms="),
            (h % 5000).cast("string"),
            F.lit(" k="),
            (h % 100).cast("string"),
        )
    )
    return df.select(
        # format_string pads to >= 6 digits but NEVER truncates — lpad
        # would shorten a 7+-digit conv_n to its 6-char prefix, silently
        # merging distinct conversations once n_conv > 999,999 (the
        # bench runs ~2.4M convs at 48M rows)
        F.format_string("conv-%06d", F.col("conv_n")).alias("conv_id"),
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


# --- enrichment dimensions (FIXTURES.md section 2) -------------------------

TOOL_CATALOG = [
    ("bash", "exec", "high"),
    ("search", "retrieval", "low"),
    ("editor", "edit", "med"),
    ("http", "retrieval", "med"),
    ("none", "none", "low"),
]

ROLE_GROUPS = [
    ("user", "human"),
    ("assistant", "model"),
    ("system", "control"),
    ("tool", "machine"),
]

# DuckDB inline twins for oracle SQL.
TOOL_CATALOG_ORACLE_CTE = """
tool_catalog AS (
  SELECT * FROM (VALUES
    ('bash','exec','high'), ('search','retrieval','low'),
    ('editor','edit','med'), ('http','retrieval','med'),
    ('none','none','low')
  ) AS t(tool, tool_category, risk_level)
)
"""

ROLE_GROUPS_ORACLE_CTE = """
role_groups AS (
  SELECT * FROM (VALUES
    ('user','human'), ('assistant','model'),
    ('system','control'), ('tool','machine')
  ) AS t(role, role_group)
)
"""


# dim frames cached per session (TranscriptPipeline.enrich runs per
# invocation — inside the bench's timed loop that driver work lands
# straight in the serial fraction); shared implementation in
# envelope.cached_session_df
def _cached_dim(spark: SparkSession, name: str, rows: list, schema: str) -> DataFrame:
    from ..envelope import cached_session_df, local_frame

    return cached_session_df(
        spark, ("dim", name), lambda: local_frame(spark, rows, schema)
    )


def tool_catalog_df(spark: SparkSession) -> DataFrame:
    return _cached_dim(
        spark,
        "tool_catalog",
        TOOL_CATALOG,
        "tool string, tool_category string, risk_level string",
    )


def role_groups_df(spark: SparkSession) -> DataFrame:
    return _cached_dim(
        spark, "role_groups", ROLE_GROUPS, "role string, role_group string"
    )
