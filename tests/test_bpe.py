"""Differential + property tests for distributed BPE training.

The Spark trainer (operators/bpe.py) must agree EXACTLY with an
independent pure-Python reference implementation — the same
two-implementations strategy as the connected-components pair.
"""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.operators.bpe import bpe_encode, bpe_train, pair_counts


# --- independent reference implementation (classic Sennrich BPE) -----------


def _ref_pair_counts(words: dict[str, int]) -> collections.Counter:
    c: collections.Counter = collections.Counter()
    for w, wc in words.items():
        s = _SYMS.get(w, list(w))
        for i in range(len(s) - 1):
            c[(s[i], s[i + 1])] += wc
    return c


_SYMS: dict[str, list[str]] = {}


def _ref_merge(s: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def ref_bpe_train(words: dict[str, int], n_merges: int, min_count: int = 2):
    _SYMS.clear()
    _SYMS.update({w: list(w) for w in words})
    merges = []
    for step in range(1, n_merges + 1):
        counts = _ref_pair_counts(words)
        if not counts:
            break
        # same total order as the Spark trainer: cnt DESC, l ASC, r ASC
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_count:
            break
        merges.append((step, l, r, cnt))
        for w in _SYMS:
            _SYMS[w] = _ref_merge(_SYMS[w], l, r)
    return merges


# --- tests -----------------------------------------------------------------


def _words_df(spark, words: dict[str, int]):
    return spark.createDataFrame(
        [(w, c) for w, c in words.items()], "word string, wc long"
    )


@pytest.mark.filterwarnings("error::event_streaming_spark.operators.fixpoint.NotConverged")
def test_bpe_matches_reference_simple(spark):
    words = {"lower": 5, "low": 7, "newest": 6, "widest": 3, "new": 2}
    got = bpe_train(_words_df(spark, words), 8)
    want = ref_bpe_train(words, 8)
    assert got == want
    assert len(got) == 8  # corpus is rich enough for all 8


def test_bpe_matches_reference_overlapping_runs(spark):
    # 'aaaa' exercises overlapping pair counting ((a,a) counts 3 per
    # word) AND leftmost non-overlapping merging ([aa, aa]).
    words = {"aaaa": 4, "aaab": 3, "baaa": 2}
    got = bpe_train(_words_df(spark, words), 5)
    want = ref_bpe_train(words, 5)
    assert got == want


def test_bpe_matches_reference_randomized(spark):
    import random

    rng = random.Random(20260814)
    alpha = "abcde"
    for trial in range(3):
        words = {
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8))): rng.randint(1, 9)
            for _ in range(40)
        }
        got = bpe_train(_words_df(spark, words), 6)
        want = ref_bpe_train(words, 6)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_bpe_min_count_early_stop(spark):
    # every pair occurs exactly once → below min_count=2 → no merges
    words = {"ab": 1, "cd": 1}
    assert bpe_train(_words_df(spark, words), 4) == []


def test_bpe_deterministic_across_partitionings(spark):
    words = {"lower": 5, "low": 7, "newest": 6, "widest": 3}
    df1 = _words_df(spark, words).repartition(7)
    df8 = _words_df(spark, words).coalesce(1)
    assert bpe_train(df1, 6) == bpe_train(df8, 6)


def test_bpe_encode_applies_merges(spark):
    words = {"low": 10, "lowest": 6}
    merges = bpe_train(_words_df(spark, words), 3)
    assert merges == ref_bpe_train(words, 3)  # populates _SYMS
    df = spark.createDataFrame([("low",), ("lowest",)], "word string")
    out = {
        r["word"]: r["enc"]
        for r in df.select("word", bpe_encode(F.col("word"), merges).alias("enc")).collect()
    }
    # encode must reproduce the training segmentation
    assert out["low"] == _SYMS["low"]
    assert out["lowest"] == _SYMS["lowest"]


def test_pair_counts_weighted(spark):
    df = spark.createDataFrame([("ab", 3), ("ba", 2)], "word string, wc long").select(
        F.expr("filter(split(word, ''), x -> x <> '')").alias("s"), "wc"
    )
    got = {(r["l"], r["r"]): r["cnt"] for r in pair_counts(df).collect()}
    assert got == {("a", "b"): 3, ("b", "a"): 2}


def test_bpe_encode_corpus_matches_reference(spark):
    """r4: the catalog encode query's per-doc token counts must equal
    tokenizing each doc with the pure-Python reference trained on the
    same word-frequency table (train + apply differential, end to end)."""
    import re

    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"])
        for r in REGISTRY["text_bpe_encode_corpus"].fn(spark, SF_SMALL).collect()
    }

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def toks(text):
        return [w for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if w]

    words = collections.Counter(w for r in docs for w in toks(r["text"]))
    merges = ref_bpe_train(dict(words), 8)
    enc_cache = {}

    def encode_len(w):
        if w not in enc_cache:
            s = list(w)
            for _step, l, r, _c in merges:
                s = _ref_merge(s, l, r)
            enc_cache[w] = len(s)
        return enc_cache[w]

    want = {}
    for r in docs:
        ws = toks(r["text"])
        if not ws:
            continue
        want[r["doc_id"]] = (
            len(ws),
            sum(len(w) for w in ws),
            sum(encode_len(w) for w in ws),
        )
    assert got == want
