"""Training-set curation: quality filter + language filter + one
canonical document per near-dup cluster.

This composes the three cheap stages a pretraining data pipeline runs
before expensive processing (the same filter -> dedup -> select shape
the reference's downstream consumers apply to collector output):

1. score every document (``textstats.quality_col``) and language-ID it
   (``textstats.lang_col``) in ONE projection over the documents scan;
2. drop documents below the quality bar or outside the target language;
3. join the surviving documents to their dedup cluster labels
   (``dedup.connected_components`` over MinHash-LSH candidate pairs)
   and keep exactly one representative per cluster — the
   highest-quality member, ties broken by smallest id.

Scale posture (100 TB): stage 1 is a zero-shuffle projection fused
with the parquet scan; the quality/language filter prunes BEFORE the
join so only survivors shuffle; the cluster join is one exchange per
side on the id; representative selection is a single window over
``cluster_id`` (``row_number`` and the member count share one sort, so
it is one exchange, not two). Nothing here is quadratic, and the
documents table is scanned once by this module (the cluster labels'
own MinHash scan is the pipeline's other, unavoidable pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..envelope import local_frame
from .textstats import lang_col, quality_col


def curate(
    docs: DataFrame,
    clusters: DataFrame,
    min_quality: int = 0,
    lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Select canonical training documents.

    ``clusters`` is ``(id_col, cluster_id)`` — e.g. the output of
    ``connected_components(docs, lsh_candidate_pairs(...))``.

    Returns ``(id_col, cluster_id, quality_q4, n_members)`` with one
    row per cluster that has at least one eligible member:
    ``n_members`` counts the ELIGIBLE members (post quality/language
    filter), and the returned row is the best-quality one among them.
    """
    metrics = docs.select(
        F.col(id_col),
        quality_col(text_col).alias("quality_q4"),
        lang_col(text_col).alias("pred_lang"),
    )
    eligible = metrics.filter(
        (F.col("pred_lang") == lang) & (F.col("quality_q4") >= min_quality)
    ).drop("pred_lang")
    joined = eligible.join(clusters, id_col)
    w = Window.partitionBy("cluster_id")
    rank = F.row_number().over(
        w.orderBy(F.col("quality_q4").desc(), F.col(id_col).asc())
    )
    return (
        joined.select(
            id_col,
            "cluster_id",
            "quality_q4",
            rank.alias("__rn__"),
            F.count(F.lit(1)).over(w).alias("n_members"),
        )
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_by: list,
    k: int,
    salt_col,
    n_salts: int = 32,
) -> DataFrame:
    """Skew-safe per-key top-k: the hot-key-proof replacement for the
    one-window ``row_number() <= k`` plan (the same trap exact_dedup's
    round-3 rewrite removed — a window partition is ONE task, so a
    viral key serializes on one core and AQE's skew split does not
    apply to windows).

    Two phases: (1) rank within ``(key, salt)`` — a hot key's rows
    spread over ``n_salts`` independent tasks, each keeping its own
    top ``k``; (2) rank the surviving ``<= n_salts * k`` rows per key.
    EXACTLY equal to the single-window result whenever ``order_by`` is
    a TOTAL order (ties broken, e.g. ending in the row id): each key's
    true top-k rows each rank ``<= k`` inside whatever salt partition
    they land in, so phase 1 never drops one, and phase 2 ranks a
    superset of the answer with the same comparator. Because of that
    equality the salt does NOT need a portable hash —
    ``xxhash64 % n_salts`` (JVM-cheapest) is fine, and the DuckDB twin
    is the plain one-window SQL.

    Adds a ``rank`` column (1..k per key). Phase-2's exchange carries
    at most ``n_salts * k`` rows per key regardless of input skew.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salts))
    )
    w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order_by)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__r1", "__salt")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order_by)
    return survivors.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def domain_quota(
    docs: DataFrame,
    max_per_domain: int = 5,
    blocklist: tuple[str, ...] = (),
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 32,
) -> DataFrame:
    """Domain-level curation (RefinedWeb, Penedo et al. 2023 §3.1 /
    CCNet's per-domain caps): drop blocklisted domains outright, then
    cap every surviving domain at its ``max_per_domain`` best documents
    so no single domain dominates the training mixture — the
    "URL filtering + per-domain quota" stage web-scale pipelines run
    before any expensive processing.

    "Best" = highest :func:`quality_col` score, ties to the smaller id
    (a total order, which is what makes the salted two-phase
    :func:`topk_per_key` EXACTLY equal to the naive one-window rank).
    The blocklist is a literal ``isin`` — predicate-pushdown-friendly,
    and at real scale a broadcast anti-join against a blocklist table
    is the same shape. Returns
    ``(id, domain, quality_q4, rank)``, rank 1 = best kept doc.

    100 TB posture: quality scoring is a zero-shuffle projection fused
    into the scan; the per-domain cap runs through the salted top-k, so
    a viral domain (the exact situation the quota exists for) spreads
    over ``n_salts`` tasks instead of serializing one window partition.
    """
    from .textstats import quality_col

    scored = docs
    if blocklist:
        scored = scored.filter(~F.col(domain_col).isin(*blocklist))
    scored = scored.select(
        F.col(id_col),
        F.col(domain_col),
        quality_col(text_col).alias("quality_q4"),
    )
    return topk_per_key(
        scored,
        [domain_col],
        [F.col("quality_q4").desc(), F.col(id_col).asc()],
        k=max_per_domain,
        salt_col=F.col(id_col),
        n_salts=n_salts,
    )


def token_budget_cut(
    docs: DataFrame,
    score_col: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    n_bins: int = 256,
) -> DataFrame:
    """Keep the highest-scoring documents until a TOKEN budget is spent
    — the FineWeb/Dolma-style global quality cut ("take the best B
    tokens"), without a global sort.

    Selection is defined by the global order ``(score DESC, id ASC)``
    with an inclusive cumulative token sum: a document is kept iff the
    budget still covers it at its rank (a small-data oracle can state
    this as one window; see the DuckDB twin). The distributed plan
    avoids sorting the corpus:

    1. one tiny agg for the score range (2 scalars to the driver);
    2. one map-side-combined agg of token mass per score bin
       (<= ``n_bins`` rows to the driver), from which the driver picks
       the BOUNDARY bin — the first bin, walking from the top score
       down, where the running token total crosses the budget;
    3. bins above the boundary are kept whole with a zero-shuffle
       filter; ONLY the boundary bin's rows pay a rank window to spend
       the remaining budget in exact global order. A small boundary bin
       (<= ``BOUNDARY_WINDOW_MAX_ROWS``, the common case at
       ~corpus/n_bins rows) runs it as one single-task window; a LARGE
       one — the degenerate case where scores concentrate in one bin
       (constant scorer) and the "boundary bin" IS the corpus — runs a
       distributed prefix-sum instead: range-partition the bin on the
       global order, materialize once so the partitioning is stable,
       collect per-partition token totals (<= n_parts scalars), and add
       each partition's broadcast prefix offset to its local cumulative
       window. No unpartitioned window ever sees more than
       ``BOUNDARY_WINDOW_MAX_ROWS`` rows, for ANY score distribution.

    Rows with a null, NaN or infinite score are dropped (unrankable —
    and a single NaN/Inf would corrupt the bin width, collapsing every
    row into one bin and with it the whole point of binning); null
    token counts count as 0. Returns the kept rows with their original
    columns.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    score = F.col(score_col).cast("double")
    toks = F.coalesce(F.col(token_col).cast("bigint"), F.lit(0))
    ranked = docs.filter(
        score.isNotNull()
        & ~F.isnan(score)
        & (F.abs(score) != F.lit(float("inf")))
    )
    lo_hi = ranked.agg(
        F.min(score).alias("lo"), F.max(score).alias("hi")
    ).collect()[0]
    if lo_hi.lo is None:
        return ranked.limit(0)
    lo, hi = float(lo_hi.lo), float(lo_hi.hi)
    width = (hi - lo) / n_bins or 1.0
    bin_ = F.least(
        F.lit(n_bins - 1), F.floor((score - F.lit(lo)) / F.lit(width))
    ).cast("int")
    stats = {
        r.b: (r.t, r.n)
        for r in ranked.groupBy(bin_.alias("b"))
        .agg(F.sum(toks).alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    running, boundary = 0, None
    for b in sorted(stats, reverse=True):
        if running + stats[b][0] > budget:
            boundary = b
            break
        running += stats[b][0]
    if boundary is None:
        return ranked  # whole corpus fits the budget
    remaining = budget - running
    keep_whole = ranked.filter(bin_ > F.lit(boundary))
    bd = ranked.filter(bin_ == F.lit(boundary))
    order = [score.desc(), F.col(id_col).asc()]
    if stats[boundary][1] <= BOUNDARY_WINDOW_MAX_ROWS:
        # common case: the boundary bin is ~corpus/n_bins rows — one
        # bounded single-task window (documented; NOT a data-scale
        # global window)
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        boundary_keep = (
            bd.withColumn("__cum__", F.sum(toks).over(w))
            .filter(F.col("__cum__") <= remaining)
            .drop("__cum__")
        )
    else:
        # degenerate case (constant/concentrated scores): distributed
        # prefix-sum over the bin in exact global order
        boundary_keep = _ordered_budget_prefix(
            bd, order, toks, remaining, stats[boundary][1]
        )
    return keep_whole.unionByName(boundary_keep)


#: boundary bins up to this many rows may run a single-task cumulative
#: window; larger ones take the distributed prefix-sum path
BOUNDARY_WINDOW_MAX_ROWS = 1 << 18


def _ordered_budget_prefix(
    df: DataFrame, order: list, toks, remaining: int, n_rows: int
) -> DataFrame:
    """Distributed inclusive-cumulative-token cut of ``df`` in exact
    ``order``: range-partition on the order so partition ids ascend
    with it, materialize ONCE (localCheckpoint — range bounds come from
    sampling, so an unmaterialized frame could re-sample different
    bounds between the totals job and the window job), collect one
    token total per partition, and add each partition's prefix offset
    (broadcast join on the <=n_parts-row offsets table) to its local
    cumulative window. Every window partition is a range partition
    sized ~n_rows/n_parts — no single task ever serializes the frame.
    """
    spark = df.sparkSession
    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-n_rows // max(1, BOUNDARY_WINDOW_MAX_ROWS)),
    )
    part = df.repartitionByRange(n_parts, *order).localCheckpoint()
    part = part.withColumn("__pid__", F.spark_partition_id())
    totals = part.groupBy("__pid__").agg(F.sum(toks).alias("t")).collect()
    run, offsets = 0, []
    for r in sorted(totals, key=lambda r: r["__pid__"]):
        offsets.append((r["__pid__"], run))
        run += int(r["t"] or 0)
    off = local_frame(spark, offsets, "__pid__ int, __off__ bigint")
    w = Window.partitionBy("__pid__").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        part.join(F.broadcast(off), "__pid__")
        .withColumn("__cum__", F.sum(toks).over(w) + F.col("__off__"))
        .filter(F.col("__cum__") <= remaining)
        .drop("__pid__", "__off__", "__cum__")
    )
