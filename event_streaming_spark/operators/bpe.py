"""Distributed BPE (byte-pair-encoding) tokenizer training.

The missing piece between "count tokens" and "train a model": learning
the merge table itself from corpus statistics.  Classic BPE (Sennrich
et al., ACL 2016) alternates two steps, both of which are natural
Spark aggregations:

1. count every adjacent symbol pair across the corpus, weighted by
   word frequency — ONE exploded groupBy whose input is the (word,
   count) table, not the raw corpus (the standard trick: train on the
   word-frequency table, which is vocabulary-sized, not corpus-sized);
2. merge the most frequent pair everywhere — a stateless array fold
   per word (leftmost, non-overlapping), no shuffle at all.

Scale shape: at 100 TB the corpus collapses to a word-frequency table
first (wordcount, the cheapest shuffle there is), after which every
training round touches only |vocab| rows.  Per round: one map-side-
combining pair count (≤ |vocab|·max_word_len rows pre-combine), one
1-row argmax collect, one narrow fold.  The driver holds the merge
table (n_merges rows) — never data.  The training loop is
operators/fixpoint.py's, pinning every few rounds so the plan stays
chunk-sized instead of accumulating n_merges nested folds.

Determinism: the argmax tiebreak is (count DESC, left ASC, right ASC)
— total order, so any partitioning/any engine learns the identical
merge table.  The pair count uses exact integers (sums of word
counts).

Differential verification: tests/test_bpe.py pins this against an
independent pure-Python reference implementation on randomized corpora
(hypothesis) — the same two-implementations-must-agree strategy the CC
queries use, since iterative argmax training is not expressible as a
single DuckDB SQL statement (the driver records the rows-only check
for the catalog query; the REAL gate is the cross-implementation
property test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_streaming_spark.operators.fixpoint import Round, iterate
from event_streaming_spark.operators.materialize import materialize

#: Merges chained UNMATERIALIZED between pins.  _merge_once is a
#: vocabulary-sized narrow fold — exactly what bpe_encode chains n_merges
#: deep in ONE expression — so re-deriving ≤3 folds inside the next argmax
#: job is far cheaper than a checkpoint job per merge (graph.py's
#: _PR_CHUNK device).
_TRAIN_CHUNK = 4


def chars(c: Column) -> Column:
    """Split a word into its character symbols (array<string>)."""
    return F.filter(F.split(c, ""), lambda x: x != "")


def _merge_once(syms: Column, left: str, right: str) -> Column:
    """Leftmost non-overlapping merge of the (left, right) pair inside
    one symbol array — a pure fold, evaluated JVM-side.

    The fold compares each incoming symbol against the accumulator's
    tail: replacing the tail consumes it, so an element produced by a
    merge is never re-used as the RIGHT half of an overlapping merge —
    exactly the classic leftmost scan."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """``(l, r, cnt)`` for every adjacent symbol pair, weighted by the
    word count.  Overlapping occurrences all count (classic BPE):
    [a,a,a] contributes (a,a) twice."""
    pairs = words.select(
        F.col("wc"),
        F.explode(
            # guard: sequence(1, 0) counts DOWN in Spark, so 1-symbol
            # words must short-circuit to an empty pair list
            F.expr(
                "CASE WHEN size(s) < 2 THEN cast(array() as array<struct<l:string,r:string>>) "
                "ELSE transform(sequence(1, size(s) - 1), "
                "i -> struct(s[i-1] AS l, s[i] AS r)) END"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
        F.sum("wc").cast("long").alias("cnt")
    )


def bpe_train(
    words: DataFrame, n_merges: int, min_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a ``(word, wc)`` frequency
    table.  Returns ``[(step, left, right, pair_count), ...]`` — the
    merge table, in training order.  Stops early when no pair reaches
    ``min_count``."""
    syms = materialize(
        words.select(chars(F.col("word")).alias("s"), F.col("wc").cast("long")),
        name="bpe-syms",
    )
    merges: list[tuple[int, str, str, int]] = []

    def step(syms: DataFrame, rnd: int) -> Round:
        # the argmax first() is the round's convergence read
        best = (
            pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None or best["cnt"] < min_count:
            return Round(syms, done=True)
        l, r = best["l"], best["r"]
        merges.append((rnd + 1, l, r, int(best["cnt"])))
        return Round(syms.select(_merge_once(F.col("s"), l, r).alias("s"), "wc"))

    # the post-final-merge state is never read (only the merge TABLE is
    # returned), so it is dropped unpinned
    iterate(
        "bpe-round", syms, step, max_rounds=n_merges, pin_every=_TRAIN_CHUNK, bound="contract"
    )
    return merges


def bpe_encode(tokens: Column, merges: list[tuple[int, str, str, int]]) -> Column:
    """Apply a learned merge table (in order) to a word's character
    symbols — the tokenizer's encode step, as a Column expression."""
    s = chars(tokens)
    for _step, left, right, _cnt in merges:
        s = _merge_once(s, left, right)
    return s
