"""BPE merge learning — tokenizer induction over a corpus.

Byte-pair encoding (Sennrich, Haddow, Birch, "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016): start from
characters, repeatedly merge the most frequent adjacent symbol pair.
The training loop every subword tokenizer ships with — and, like
``connected_components``, an inherently ITERATIVE algorithm, so its
Spark form demonstrates the checkpointed-loop posture: the corpus is
scanned ONCE into a word-frequency table (the classic BPE training
state — vocab-sized, not corpus-sized), every merge round runs on that
small checkpointed table, and the driver reads one argmax row per
round.

Determinism / oracle parity: a word's symbol sequence is represented
as a WRAPPED STRING — ``\\x1f a \\x1f\\x1f b \\x1f`` (every symbol
enclosed in unit separators, adjacent symbols sharing a double
separator) — so applying a merge is a single literal
``replace(s, '\\x1f' a '\\x1f\\x1f' b '\\x1f', '\\x1f' ab '\\x1f')``.
Both Spark's ``replace`` and DuckDB's ``replace`` scan left-to-right
non-overlapping, which is exactly the classic BPE in-word merge pass
(a merged token is never re-merged as the LEFT side within the same
pass, and the wrapper's shared boundary stops overlapping matches), so
the two engines stay bit-identical through every round. The argmax tie
break is total: (count desc, left asc, right asc).

100 TB posture: pass 1 is one corpus scan with map-side combine into
the distinct-word frequency table; the merge loop never touches the
corpus again — per round one pair-explode + hash agg over the
vocab-sized table (checkpointed each round so the plan stays flat, the
CC-loop discipline) and ONE argmax row to the driver. Words containing
the separator byte are excluded up front (both sides), a metadata-free
guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..envelope import local_frame
from .dedup import tokens

SEP = "\x1f"


def _wrapped(word: Column) -> Column:
    # "abc" -> SEP a SEP SEP b SEP SEP c SEP  (drop the trailing extra)
    x = F.concat(F.lit(SEP), F.regexp_replace(word, "(?s)(.)", "$1" + SEP + SEP))
    return F.substring(x, 1, F.length(x) - 1)


def _merged(word: Column, merges: list[tuple[str, str]]) -> Column:
    s = _wrapped(word)
    for a, b in merges:
        s = F.replace(
            s, F.lit(SEP + a + SEP + SEP + b + SEP), F.lit(SEP + a + b + SEP)
        )
    return s


def _symbols(wrapped: Column) -> Column:
    # strip the outer wrappers with ONE reference to the (possibly
    # expensive) wrapped expression, then split on the double separator
    return F.split(
        F.regexp_replace(wrapped, f"^{SEP}|{SEP}$", ""), SEP + SEP
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus's
    whitespace words. Returns ``(merge_rank, left_sym, right_sym,
    pair_count)`` — rank 1 = the first (most frequent) merge; later
    rounds count pairs AFTER all earlier merges were applied, exactly
    the reference algorithm. Stops early (fewer rows) if the
    vocabulary runs out of adjacent pairs."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(~F.col("w").contains(SEP))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # the loop state is vocab-sized (distinct words), tiny next to the
    # corpus: coalesce to a handful of partitions so each of the
    # n_merges rounds schedules a few tasks instead of a full
    # shuffle-partition fan (pure job-overhead savings; at real scale
    # the vocab still fits a single executor comfortably)
    vocab = (
        words.select(_wrapped(F.col("w")).alias("s"), "freq")
        .coalesce(8)
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        syms = _symbols(F.col("s"))
        idx = F.when(
            F.size(syms) >= 2, F.sequence(F.lit(0), F.size(syms) - 2)
        ).otherwise(F.array().cast("array<int>"))
        pair = F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.get(syms, i).alias("a"), F.get(syms, i + 1).alias("b")
                ),
            )
        )
        top = (
            vocab.select(pair.alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, top[0].cnt
        merges.append((r, a, b, int(cnt)))
        vocab = vocab.select(
            F.replace(
                F.col("s"),
                F.lit(SEP + a + SEP + SEP + b + SEP),
                F.lit(SEP + a + b + SEP),
            ).alias("s"),
            "freq",
        ).localCheckpoint()
    return local_frame(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: adds ``out_col`` =
    ARRAY<STRING> of subword symbols per row (whitespace words
    segmented independently, merges applied in rank order — the
    standard BPE encode pass). Zero shuffle: the merge list is a
    literal chain of ``replace`` calls inside whole-stage codegen;
    words containing the separator byte pass through as one opaque
    symbol (the learner excluded them, so no merge can touch them)."""
    return df.withColumn(
        out_col,
        F.flatten(
            F.transform(
                tokens(F.col(text_col)),
                lambda w: F.when(
                    w.contains(SEP), F.array(w)
                ).otherwise(_symbols(_merged(w, merges))),
            )
        ),
    )
