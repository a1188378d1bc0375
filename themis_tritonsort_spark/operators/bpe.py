"""Distributed BPE (byte-pair-encoding) tokenizer training.

The missing piece between the catalog's vocab build (q60: frequency
vocabulary) and token encoding: learn the merge table itself, the way
subword tokenizers for LLM pipelines are trained (Sennrich et al. 2016
— greedy best-pair merges over a word-frequency table).

Scale shape — the reason this distributes:

1. The corpus collapses to its word-frequency table in ONE keyed
   aggregate (tokens -> groupBy word).  Everything after runs on the
   VOCABULARY (distinct words), never the corpus: at 100 TB of text
   the vocab is ~10^7 rows, thousands of times smaller.
2. Each merge round is one map-side pair expansion (adjacent symbol
   pairs weighted by word count) + one (a, b) aggregate + a 1-row
   driver argmax — the same "driver holds only the centers" discipline
   as k-means (SURVEY's sanctioned exception).  The merge itself is
   applied map-side as a Catalyst ``aggregate`` fold over the symbol
   array: pure codegen, no Python UDF, no shuffle.
3. Lineage is cut per round (localCheckpoint) so R rounds never build
   an R-deep plan over the checkpointed vocab.

Determinism: the best pair breaks ties by (count DESC, left ASC,
right ASC) — a pure function of the data, reproducible by any engine;
the q106 oracle replays the identical fold with recursive CTEs.

Reference parity note: the reference has no subword trainer; this is
beyond-reference coverage in the same family as its WordCount /
vocabulary jobs (/root/reference/src/tritonsort/mapreduce/functions/
map/WordCountMapFunction.cc — the word-frequency substrate is the
same first aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

# BPE input discipline: lowercase alphabetic words only, length-capped.
# The filter removes unicode-width ambiguity between engines; the cap
# bounds the oracle's recursive-fold depth and is the standard
# rare-word/URL guard a production trainer applies anyway.
BPE_WORD_RE = "^[a-z]+$"
BPE_MAX_WORD_LEN = 20


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of the (left, right)
    symbol pair — the exact BPE application rule — as a pure Catalyst
    ``aggregate`` fold: append each symbol unless the accumulator's
    last element is ``left`` and the current is ``right``, in which
    case replace the last with the merged symbol.  A merged symbol can
    never re-match as ``left`` within the same pass (it is strictly
    longer), so the fold equals the index-walk-with-skip formulation.
    """
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_frequency_table(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, cnt, syms) — the corpus collapsed to its BPE training
    substrate: distinct lowercase-alpha words with counts and their
    initial single-character symbol arrays."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(
            F.col("word").rlike(BPE_WORD_RE)
            & (F.length("word") <= BPE_MAX_WORD_LEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split(F.col("word"), ""))
    )


def bpe_train(
    df: DataFrame,
    merges: int,
    text_col: str = "text",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``merges`` BPE merge rules from the corpus and return
    ``(rules, vocab)`` where ``rules`` is the ordered merge list and
    ``vocab`` is the trained symbol table (symbol string, total_cnt
    long) — the token distribution after applying every rule.
    """
    if merges < 0:
        raise ValueError(f"merges must be >= 0, got {merges}")
    words = word_frequency_table(df, text_col).localCheckpoint(eager=False)
    rules: list[tuple[str, str]] = []
    cur = words
    for _ in range(merges):
        pairs = (
            cur.select(
                F.col("cnt"),
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(
            F.col("c").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        left, right = best[0]["a"], best[0]["b"]
        rules.append((left, right))
        cur = cur.withColumn(
            "syms", _merge_fold(F.col("syms"), left, right)
        ).localCheckpoint(eager=False)
    vocab = (
        cur.select("cnt", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("cnt").cast("long").alias("total_cnt"))
    )
    return rules, vocab


def bpe_encode(
    df: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_syms",
) -> DataFrame:
    """Apply an ordered merge-rule list to the corpus: each document's
    eligible words become their trained symbol sequences
    (array<array<string>> per doc).  Pure map-side codegen — the rules
    are literals folded into the plan, exactly how a broadcast merge
    table behaves at scale."""
    words = F.filter(
        tokens(F.col(text_col)),
        lambda w: w.rlike(BPE_WORD_RE)
        & (F.length(w) <= BPE_MAX_WORD_LEN),
    )
    syms = F.transform(words, lambda w: F.split(w, ""))
    for left, right in rules:
        syms = F.transform(syms, lambda s: _merge_fold(s, left, right))
    return df.withColumn(out_col, syms)
