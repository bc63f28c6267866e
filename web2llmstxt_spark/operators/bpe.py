"""BPE merge induction — learning a tokenizer's merge table from the corpus.

The existing `textstats.bpe_token_hist` applies a FIXED pretokenizer; this
module learns the data-dependent half of a BPE tokenizer (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units"): the
ordered merge list that training-data pipelines derive from a corpus sample
before tokenizing the full 100 TB with it.

Distributed shape: the word-frequency table (vocabulary-sized, NOT
corpus-sized — the classic BPE trick) is built with one groupBy and cached;
each merge step is then ONE pair-count aggregation job over that cached
table plus a driver-side argmax of a single row. For n merges the driver
holds n scalar rows — the merge table IS the output and is inherently tiny.
Pair counting and pair merging are pure JVM Column algebra (split /
transform / replace inside whole-stage codegen); no Python touches a word.

Merge semantics are the reference BPE greedy rule: the highest-count
adjacent symbol pair wins (ties broken lexicographically so runs are
reproducible), and merging rewrites every LEFTMOST-first non-overlapping
occurrence — exactly the semantics of `replace()` over the separator-framed
symbol encoding below, in both Spark and DuckDB (the oracle unrolls the
same iterations as chained CTEs, so the whole loop is hash-checked).

Symbol encoding: a word's symbol sequence is one string
``SEP s1 SEP SEP s2 SEP ... SEP sn SEP`` (SEP = US \\x1f, which cannot occur
in [a-z]+ words). Every symbol is flanked by its OWN pair of separators, so
the pattern ``SEP l SEP SEP r SEP`` matches exactly at symbol boundaries —
a shared-delimiter encoding would let consecutive occurrences swallow each
other's boundary and merge "a a a a" into 1 pair instead of 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

SEP = "\x1f"

#: materialize the repr table every K merge steps (r5 verdict #3): without
#: this, step s re-executes s chained replace()s over the cached base and
#: Catalyst re-analyzes an s-deep expression chain — O(n^2) total work and
#: unbounded plan depth at a real 32k-merge vocab. With it, per-step work
#: is bounded by K replaces over the last checkpoint (vocab-sized, tiny
#: relative to the corpus), so per-step wall stays flat.
BPE_CHECKPOINT_EVERY = 16

MERGES_SCHEMA = StructType(
    [
        StructField("step", IntegerType(), False),
        StructField("left_tok", StringType(), False),
        StructField("right_tok", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _initial_repr(word) -> F.Column:
    """word -> SEP-framed single-char symbol string (see module doc)."""
    return F.regexp_replace(word, "(.)", f"{SEP}$1{SEP}")


def _tokens(repr_col) -> F.Column:
    return F.split(
        F.regexp_replace(repr_col, f"^{SEP}|{SEP}$", ""), SEP + SEP
    )


def _pair_counts(reprs: DataFrame) -> DataFrame:
    """(repr, cnt) -> (left_tok, right_tok, pair_count): explode adjacent
    symbol pairs weighted by word count. Counts MULTIPLE occurrences of a
    pair inside one word (reference BPE does), so 'aaaa' contributes 3x."""
    t = _tokens(F.col("repr"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("l"), F.element_at(t, i + 1).alias("r")
        ),
    )
    return (
        reprs.filter(F.size(t) >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _merge_repr(repr_col, left: str, right: str) -> F.Column:
    return F.replace(
        repr_col,
        F.lit(f"{SEP}{left}{SEP}{SEP}{right}{SEP}"),
        F.lit(f"{SEP}{left}{right}{SEP}"),
    )


def learn_merges(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    cnt_col: str = "cnt",
    checkpoint_every: int = BPE_CHECKPOINT_EVERY,
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merge table from a (word, count)
    frequency table. Returns (step, left_tok, right_tok, merged, pair_count)
    with step in merge order. Stops early if no pair remains.

    Exact greedy (the merge table is the published artifact — batching
    merges would change it); the scale lever is ``checkpoint_every``:
    the repr table is re-materialized every K steps so per-step wall and
    plan depth stay FLAT in the merge index instead of growing linearly.
    """
    reprs = words.select(
        _initial_repr(F.col(word_col)).alias("repr"),
        F.col(cnt_col).cast("long").alias("cnt"),
    ).cache()
    base = reprs
    base.count()  # materialize once; every step's job reads the cache
    merges = []
    try:
        for step in range(1, n_merges + 1):
            best = (
                _pair_counts(reprs)
                .orderBy(F.desc("pair_count"), "left_tok", "right_tok")
                .limit(1)
                .collect()
            )
            if not best:
                break
            b = best[0]
            merges.append(
                (step, b["left_tok"], b["right_tok"],
                 b["left_tok"] + b["right_tok"], b["pair_count"])
            )
            reprs = reprs.select(
                _merge_repr(F.col("repr"), b["left_tok"], b["right_tok"])
                .alias("repr"),
                "cnt",
            )
            if checkpoint_every and step % checkpoint_every == 0:
                # truncate the replace chain: subsequent steps re-execute at
                # most K replaces over this vocab-sized materialization
                reprs = reprs.localCheckpoint(eager=True)
    finally:
        # the merge table is fully collected — release the cached vocab so
        # repeated invocations (bench loops, bpe_merges + bpe_encode_stats
        # in one session) don't accumulate storage blocks
        base.unpersist()
    return local_frame(spark, merges, MERGES_SCHEMA)


def apply_merges(words: DataFrame, merges: list, word_col: str = "word") -> DataFrame:
    """Tokenize words with a learned merge list (replayed in order — BPE
    encoding is exactly the training replay). ``merges`` is a list of
    (left, right) pairs or Rows with left_tok/right_tok. Adds a ``tokens``
    array column; pure Column algebra, no shuffle."""
    repr_col = _initial_repr(F.col(word_col))
    for m in merges:
        if hasattr(m, "left_tok"):
            left, right = m.left_tok, m.right_tok
        else:
            left, right = m[0], m[1]
        repr_col = _merge_repr(repr_col, left, right)
    return words.withColumn("tokens", _tokens(repr_col))
