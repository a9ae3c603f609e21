"""LLM training-data text, similarity and embedding queries (SURVEY §2.5).

Text analysis, near-dup and similarity search, quantization/vocabulary
and reference-LM audits, IVF and out-of-distribution embedding audits,
statistical text models and PCA.  Each section below opens with its
design notes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import normalize_text, sql_normalize_text, tokens
from event_streaming_spark.functions.hashing import sql_stable_hash32 as _sql_h32
from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.functions.numeric import cosine
from event_streaming_spark.operators import similarity as S
from event_streaming_spark.operators import text as T
from event_streaming_spark.operators.joins import triangle_self_pair_join
from event_streaming_spark.operators.materialize import materialize
from event_streaming_spark.operators.ranks import topk_per_group
from event_streaming_spark.plans.catalog import capture_plan, load, register, spread

# ===========================================================================
# LLM training-data text-analysis queries over ``documents`` (SURVEY §2.5).
#
# Each query pairs the JVM-side operator from operators/text.py with an
# oracle generated from the SAME constants/expression builders, so engine
# and oracle cannot drift.
#
# Scale: every operator here is a stateless projection — pipelines into the
# scan, no shuffle (exact dedup being the one hash-shuffle, on the digest).
# ===========================================================================

# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

_TOKENS_ORACLE = f"""
SELECT doc_id,
       {T.sql_ws_token_count('text')} AS n_ws_tokens,
       {T.sql_bpe_token_count('text')} AS n_bpe_tokens,
       len(text) AS n_chars_actual,
       n_chars AS n_chars_declared
FROM documents
"""


@register("text_token_counts", _TOKENS_ORACLE, tags=("llm", "text"), bench=True)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.col("n_chars").alias("n_chars_declared"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_QF = T.sql_quality_features("text")
_QUALITY_ORACLE = f"""
SELECT doc_id,
       {_QF['alpha_ratio']} AS alpha_ratio,
       {_QF['stopword_ratio']} AS stopword_ratio,
       {_QF['mean_token_len']} AS mean_token_len,
       {_QF['n_tokens']} AS n_tokens
FROM documents
"""


@register("text_quality_features", _QUALITY_ORACLE, tags=("llm", "text"))
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    feats = T.quality_features(F.col("text"))
    return docs.select(
        "doc_id", *[feats[k].alias(k) for k in ("alpha_ratio", "stopword_ratio", "mean_token_len", "n_tokens")]
    )


# ---------------------------------------------------------------------------
# language identification (marker-word heuristic) + accuracy vs declared lang
# ---------------------------------------------------------------------------

_LANGID_ORACLE = f"""
SELECT predicted_lang, count(*) AS n_docs
FROM (SELECT {T.sql_lang_id('text')} AS predicted_lang FROM documents)
GROUP BY predicted_lang
"""


@register("text_lang_id_distribution", _LANGID_ORACLE, tags=("llm", "text"))
def text_lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.select(T.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# document fingerprinting: whole-doc md5 + simhash
# ---------------------------------------------------------------------------

_FP_ORACLE = f"""
WITH staged AS (
  SELECT doc_id, {T.sql_content_md5('text')} AS content_md5,
         {T.sql_token_hashes('text')} AS hs
  FROM documents
)
SELECT doc_id, content_md5, {T.sql_simhash_over('hs')} AS simhash32
FROM staged
"""


@register("text_fingerprints", _FP_ORACLE, tags=("llm", "text", "hash"))
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.content_md5(F.col("text")).alias("content_md5"),
        T.simhash(F.col("text")).alias("simhash32"),
    )


# ---------------------------------------------------------------------------
# exact dedup (SURVEY §2.5 row 1): sha256 over normalized text; one row per
# distinct digest with copy count + canonical representative (min doc_id).
# Scale: map-side partial agg → one shuffle on digest; this is THE pattern
# for exact dedup at 100 TB (no sort, no window).
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = f"""
SELECT sha256({sql_normalize_text('text')}) AS digest,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact_sha256", _EXACT_DEDUP_ORACLE, tags=("llm", "dedup"), bench=True)
def dedup_exact_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return (
        docs.select(F.sha2(normalize_text(F.col("text")), 256).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# TF-IDF term scoring (SURVEY §2.5 "text analysis": the HashingTF/IDF idea
# as explicit, oracle-checkable relational algebra).  Two aggregation
# passes: document frequency per term, then global tf·idf.
# Scale: explode(tokens) is the classic text inversion — shuffle on term;
# at 100 TB this is the inverted-index build, partial-agg-friendly.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({sql_normalize_text('text')}, ' ')) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM toks GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, tf, df,
       round(tf * ln(cast(n_docs as double) / df), 6) AS tfidf
FROM tf, n
ORDER BY tfidf DESC, term
LIMIT 25
"""


@register("text_tfidf_top_terms", _TFIDF_ORACLE, tags=("llm", "text", "agg"))
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import tokens as tok_fn

    docs = spread(load(spark, sf_dir, "documents"))
    n_docs = docs.count()  # scalar dimension, computed once (cheap metadata agg)
    toks = docs.select("doc_id", F.explode(tok_fn(F.col("text"))).alias("term"))
    tf = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    return (
        tf.select(
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), F.asc("term"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing under the correctness gate: opaque BINARY column
# (synthesized from text here — the fixtures carry no media), typed
# metadata extracted relationally: byte length, hex prefix, text checksum.
# The codec-level operators live in operators/multimodal.py (mapInPandas).
# ---------------------------------------------------------------------------

_BINARY_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       lower(hex(encode(substr(text, 1, 8)))) AS prefix_hex,
       md5(text) AS text_md5
FROM documents
WHERE doc_id < 100
"""


@register("binary_column_metadata", _BINARY_ORACLE, tags=("llm", "multimodal", "binary"))
def binary_column_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    bin_col = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(bin_col).alias("n_bytes"),
        F.lower(F.hex(F.substring(bin_col, 1, 8))).alias("prefix_hex"),
        F.md5(F.col("text")).alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# Per-source heavy hitters: each source's 5 most frequent tokens with a
# deterministic tie-break — the "what is this corpus made of" audit run
# per ingest source (boilerplate tokens dominating a source is the usual
# tell for markup leakage).  Scale: the wordcount aggregate combines
# map-side (shuffle carries distinct (source, term) partials, not token
# occurrences); the rank window partitions by source over the per-source
# VOCABULARY (bounded, unlike the corpus), so no global ordering and no
# single-partition stage.  At extreme vocabularies, swap the exact rank
# for a count-min/SpaceSaving sketch and keep the same output contract.
# ---------------------------------------------------------------------------

_HH_ORACLE = f"""
WITH t AS (
  SELECT source, unnest(string_split({sql_normalize_text('text')}, ' ')) AS term
  FROM documents
), c AS (
  SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2
), r AS (
  SELECT source, term, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rnk
  FROM c
)
SELECT source, term, n, rnk FROM r WHERE rnk <= 5
"""


@register("text_heavy_hitters_per_source", _HH_ORACLE, tags=("llm", "text", "agg", "window"))
def text_heavy_hitters_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import tokens as tok_fn

    docs = spread(load(spark, sf_dir, "documents"))
    counts = (
        docs.select("source", F.explode(tok_fn(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # two-stage top-k (operators/ranks.py): per-source distinct terms
    # scale with vocabulary (~zipf, still 10^8-ish at corpus scale) —
    # a bare per-source window is one task per source.
    from event_streaming_spark.operators.ranks import topk_per_group

    return topk_per_group(
        counts, "source", [F.col("n").desc(), F.col("term")], 5, rn_col="rnk"
    ).select("source", "term", "n", "rnk")


# ---------------------------------------------------------------------------
# Heavy hitters via Misra-Gries candidates + EXACT rescan — the concrete
# scale path the exact query's docstring promises "at extreme
# vocabularies": pass 1 runs a capacity-C Misra-Gries summary PER
# PARTITION per source (Arrow-batched, state bounded at C counters per
# source per partition — never the vocabulary), pass 2 rescans the
# stream counting ONLY the candidate terms exactly.  The shuffle carries
# |candidates| ≤ partitions×C×|sources| rows instead of the full
# per-source vocabulary — the win when distinct terms (10⁸-ish at corpus
# scale) dwarf C.
#
# Correctness is PROVEN per run, not hoped: summed across partitions the
# MG decrement mass is ≤ N_source/(C+1), so every term with global count
# > N_source/(C+1) survives in ≥1 partition (pigeonhole).  The plan
# asserts min(top-5 exact count) > N_source/(C+1) for every source and
# raises otherwise — so when the query RETURNS, its output provably
# equals the exact top-5 (same oracle as text_heavy_hitters_per_source),
# and on a corpus too flat for the capacity it fails loudly instead of
# silently approximating.
# ---------------------------------------------------------------------------

_MG_CAPACITY = 256


@register(
    "text_heavy_hitters_mg_rescan",
    _HH_ORACLE,
    tags=("llm", "text", "sketch", "agg"),
    bench=True,  # r8: heaviest r7 addition — tracked round-over-round
)
def text_heavy_hitters_mg_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import tokens as tok_fn
    from event_streaming_spark.operators.ranks import topk_per_group

    docs = spread(load(spark, sf_dir, "documents"))
    stream = docs.select("source", F.explode(tok_fn(F.col("text"))).alias("term"))

    cap = _MG_CAPACITY

    def mg_partition(batches):
        # Misra-Gries per source over THIS partition's token stream.
        # Batched decrement: when a source exceeds `cap` counters,
        # subtract the (cap+1)-th largest count from all and drop ≤0 —
        # the merge form of the classic one-at-a-time decrement, same
        # ≤ n_p/(cap+1) error mass.  Besides candidate rows (np NULL)
        # each partition emits ONE marker row per source (term NULL,
        # np = this partition's token count for the source): summed,
        # the markers give N_source for the completeness proof without
        # a third scan of the stream.
        from collections import Counter, defaultdict

        import pandas as pd

        state: dict = defaultdict(Counter)
        seen: Counter = Counter()
        for pdf in batches:
            seen.update(pdf.groupby("source").size().to_dict())
            for src, cnt in pdf.groupby("source")["term"].value_counts().groupby(
                level=0
            ):
                c = state[src]
                c.update({t: int(n) for (_, t), n in cnt.items()})
                if len(c) > cap:
                    kth = sorted(c.values(), reverse=True)[cap]
                    state[src] = Counter(
                        {t: n - kth for t, n in c.items() if n - kth > 0}
                    )
        rows = [(s, t, None) for s, cn in state.items() for t in cn] + [
            (s, None, int(n)) for s, n in seen.items()
        ]
        out = pd.DataFrame(rows or None, columns=["source", "term", "np"])
        out["np"] = out["np"].astype("Int64")
        yield out

    # ONE scan of the stream produces both the candidate set and the
    # per-source totals; the tiny summary (≤ partitions×(cap+1) rows per
    # source) is cached so reading the two legs never re-runs the pass.
    summary = stream.mapInPandas(
        mg_partition, "source string, term string, np long"
    ).cache()
    cand = (
        summary.where(F.col("term").isNotNull())
        .select("source", "term")
        .dropDuplicates(["source", "term"])
    )

    # pass 2: EXACT counts of candidates only (the join keeps the shuffle
    # candidate-sized; AQE broadcasts the small side)
    exact = (
        stream.join(cand, ["source", "term"])
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Pinned via the materializer, NOT .cache(): a leaked cache entry is
    # plan-matched by the NEXT invocation's identical plan, so repeated
    # runs in one session silently skip the work (and accumulate cache
    # entries) — VERDICT r11 #2 cache-hygiene item.  The checkpoint pins
    # the rows for the proof collect below and the caller alike, and a
    # fresh invocation always recomputes.
    from event_streaming_spark.operators.materialize import materialize

    top = materialize(
        topk_per_group(
            exact, "source", [F.col("n").desc(), F.col("term")], 5, rn_col="rnk"
        ).select("source", "term", "n", "rnk"),
        "mg-top",
    )

    # completeness proof: min top-5 exact count must clear the MG survival
    # bound N_source/(cap+1).  Totals come from the pass-1 markers (no
    # extra stream scan) and floors from ONE collect of the cached top
    # (≤ 5×#sources rows; the caller's own collect reuses the cache).
    totals = {
        r["source"]: r["N"]
        for r in summary.where(F.col("term").isNull())
        .groupBy("source")
        .agg(F.sum("np").alias("N"))
        .collect()
    }
    floors: dict = {}
    for r in top.collect():
        s = r["source"]
        floors[s] = min(floors.get(s, r["n"]), r["n"])
    thin = {
        s: (floors.get(s, 0), totals[s] // (cap + 1))
        for s in totals
        if floors.get(s, 0) <= totals[s] / (cap + 1)
    }
    if thin:  # -O-safe
        raise AssertionError(
            f"MG capacity {cap} cannot prove top-5 completeness for {thin}; "
            "raise _MG_CAPACITY"
        )
    # top is checkpoint-pinned (computed above) for the caller; the
    # pass-1 summary served both legs and can release its executors'
    # memory now.
    summary.unpersist()
    return top


# ---------------------------------------------------------------------------
# Model-based quality GATE: a linear scorer with SHIPPED integer weights
# over exact-integer features — the "quality classifier filter" stage of
# a training-data pipeline (fasttext-style), reduced to arithmetic both
# engines compute bit-identically: every feature is an integer
# numerator/denominator pair and every ratio a ppm floor division, so
# the score (and the keep decision) cannot drift across engines the way
# a float dot product + sigmoid would.  Weights favor alphabetic prose
# with English stopword density and moderate token length; the
# threshold keeps roughly the top half of the synthetic corpus.
# ---------------------------------------------------------------------------

_QGATE_THRESHOLD = 3_900_000

_QGATE_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS a,
         len(text) AS c,
         list_filter(string_split({T.sql_normalize_text('text')}, ' '),
                     t -> t <> '') AS toks
  FROM documents
  WHERE len(text) > 0
), g AS (
  SELECT doc_id, a, c,
         len(toks) AS t,
         len(list_filter(toks, t -> list_contains([{', '.join(f"'{w}'" for w in T.ENGLISH_STOPWORDS)}], t))) AS s,
         list_sum(list_transform(toks, t -> len(t))) AS big_l
  FROM f
)
SELECT doc_id,
       cast(3 * ((a * 1000000) // c)
          + 5 * ((s * 1000000) // t)
          + 2 * ((big_l * 1000000) // (t * 8)) AS BIGINT) AS score_fp,
       CASE WHEN 3 * ((a * 1000000) // c)
               + 5 * ((s * 1000000) // t)
               + 2 * ((big_l * 1000000) // (t * 8)) >= {_QGATE_THRESHOLD}
            THEN 1 ELSE 0 END AS kept
FROM g
WHERE t > 0
ORDER BY doc_id
"""


@register(
    "text_quality_model_gate",
    _QGATE_ORACLE,
    tags=("llm", "text", "quality"),
)
def text_quality_model_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import tokens

    docs = spread(load(spark, sf_dir, "documents")).where(F.length("text") > 0)
    toks = tokens(F.col("text"))
    g = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("a"),
        F.length("text").alias("c"),
        F.size(toks).alias("t"),
        F.size(F.filter(toks, lambda x: x.isin(*T.ENGLISH_STOPWORDS))).alias("s"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).alias(
            "big_l"
        ),
    ).where(F.col("t") > 0)
    score = F.expr(
        "3 * ((a * 1000000) div c)"
        " + 5 * ((s * 1000000) div t)"
        " + 2 * ((big_l * 1000000) div (t * 8))"
    ).cast("bigint")
    return (
        g.withColumn("score_fp", score)
        .withColumn(
            "kept",
            F.when(F.col("score_fp") >= _QGATE_THRESHOLD, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .select("doc_id", "score_fp", "kept")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Lang-ID CONFUSION MATRIX: the marker-word classifier audited against
# the corpus's declared lang label — (label × predicted) counts plus
# each cell's share of its label row in exact ppm.  The eval that turns
# "we have a lang-ID heuristic" into "here is where it is wrong":
# off-diagonal hot cells localize marker lists that need work before
# the classifier gates a data mix.
# Scale: one classify pass (JVM-side token filters) + one groupBy over
# the (|langs|+1)² cell domain; label totals join classes-sized rows.
# ---------------------------------------------------------------------------

_LANGCM_ORACLE = f"""
WITH p AS (
  SELECT lang AS label, {T.sql_lang_id('text')} AS predicted_lang
  FROM documents
), cells AS (
  SELECT label, predicted_lang, cast(count(*) AS BIGINT) AS n_docs
  FROM p GROUP BY 1, 2
), totals AS (
  SELECT label, cast(sum(n_docs) AS BIGINT) AS label_total FROM cells GROUP BY 1
)
SELECT c.label, c.predicted_lang, c.n_docs,
       c.n_docs * 1000000 // t.label_total AS share_of_label_ppm
FROM cells c JOIN totals t ON t.label = c.label
ORDER BY 1, 2
"""


@register(
    "docs_lang_id_confusion_matrix",
    _LANGCM_ORACLE,
    tags=("llm", "text", "audit"),
)
def docs_lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    docs = spread(load(spark, sf_dir, "documents"))
    # Pin the cells-sized matrix: label totals and the join both read
    # it — unpinned, the classify pass runs twice over the corpus.
    cells = materialize(
        docs.select(F.col("lang").alias("label"), T.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy("label", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs")),
        name="langid-confusion-cells",
    )
    totals = cells.groupBy("label").agg(F.sum("n_docs").cast("long").alias("label_total"))
    return (
        cells.join(F.broadcast(totals), "label")
        .select(
            "label",
            "predicted_lang",
            "n_docs",
            ((F.col("n_docs") * 1_000_000) / F.col("label_total"))
            .cast("long")
            .alias("share_of_label_ppm"),
        )
        .orderBy("label", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# WINNOWING fingerprints (the MOSS algorithm): within every window of
# W consecutive POSITIONAL k-gram hashes, select the minimum — any two
# documents sharing a substring of ≥ W+k−1 tokens are guaranteed to
# share a fingerprint, at ~2/(W+1) the density of full shingling.  The
# pair stage is an inverted-index equi-join on the selected
# fingerprints, with stop-fingerprints (document frequency > 50 —
# boilerplate phrases every doc carries) dropped before the join so
# bucket sizes stay df-bounded, never corpus-bounded.  Unlike the
# MinHash candidates (probabilistic), shared-winnow counts are exact
# and deterministic — the plagiarism-detection standard.
# Scale: positions explode ~tokens rows once; the window min is one
# keyed sort per doc; the join carries (doc, fp) pairs at winnow
# density.  Docs shorter than W+k−1 tokens have no full window and
# drop out (standard winnowing).
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window size in k-grams (k = 3 tokens)
_WINNOW_MAX_DF = 50
_WINNOW_MIN_SHARED = 2


def _winnow_oracle() -> str:
    from event_streaming_spark.functions.hashing import (
        sql_normalize_text,
        sql_stable_hash32,
    )

    toks = f"string_split({sql_normalize_text('text')}, ' ')"
    # POSITIONAL k-gram hashes: same construction as sql_shingle_hashes
    # but WITHOUT list_distinct — winnowing needs the sequence.
    gram = "array_to_string((" + toks + ")[i:i+2], ' ')"
    hs = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 0)),"
        f" i -> {sql_stable_hash32(gram)})"
    )
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hs FROM documents
), pos AS (
  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) AS ord,
         len(hs) AS n
  FROM hs
), sel AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY ord
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
             AS fp,
           ord, n
    FROM pos) WHERE ord <= n - {_WINNOW_W - 1}
), df AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= {_WINNOW_MAX_DF}
), kept AS (
  SELECT sel.doc_id, sel.fp FROM sel JOIN df ON df.fp = sel.fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(count(*) AS BIGINT) AS n_shared_fps
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WINNOW_MIN_SHARED}
ORDER BY 1, 2
"""


@register(
    "docs_winnowing_fingerprint_pairs",
    _winnow_oracle(),
    tags=("llm", "dedup", "fingerprint", "join"),
)
def docs_winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from event_streaming_spark.functions.hashing import normalize_text, stable_hash32

    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split(normalize_text(F.col("text")), " ")
    # positional 3-token shingle hashes (ordered, not deduped)
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda i: stable_hash32(F.array_join(F.slice(toks, i, 3), " ")),
    )
    pos = docs.select(
        "doc_id", F.posexplode(hs).alias("ord", "h")
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("ord")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    from event_streaming_spark.operators.materialize import materialize

    # Pin the winnowed (doc, fp) set: the df filter and BOTH self-join
    # sides read it — unpinned, the dumped plan re-ran the whole winnow
    # pass (explode + two sorts + two windows over every gram) once per
    # consumer.
    sel = materialize(
        pos.select("doc_id", F.min("h").over(w).alias("fp"), "ord", "n")
        # posexplode is 0-based (DuckDB ordinality is 1-based): same
        # "full windows only" cut, ord ≤ n − W expressed 0-based
        .filter(F.col("ord") <= F.col("n") - _WINNOW_W)
        .select("doc_id", "fp")
        .distinct(),
        name="winnow-fingerprints",
    )
    df_ok = sel.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WINNOW_MAX_DF
    )
    kept = sel.join(F.broadcast(df_ok.select("fp")), "fp")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= _WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# ===========================================================================
# Near-dup + similarity-search queries over documents/embeddings (SURVEY §2.5).
#
# Scale design, per query, is in the docstrings — the common theme: candidate
# generation is always an equi-join on a derived key (LSH band, hyperplane
# bucket, source partition), never an O(n²) cross join; the only cross join
# is the brute-force baseline whose small side is broadcast.
# ===========================================================================

# ---------------------------------------------------------------------------
# MinHash signatures (k=16 permutations over 3-token shingles).
# Stateless projection — pipelines into the scan, no shuffle.
# ---------------------------------------------------------------------------

_SIG_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
)
SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))}
FROM hs
"""


@register("minhash_signatures", _SIG_ORACLE, tags=("llm", "dedup", "hash"))
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
    return hs.select("doc_id", *S.minhash_cols(F.col("hs")))


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs: band signatures into LSH_BANDS buckets, join
# on (band_idx, band_hash) to generate candidates, verify with the estimated
# Jaccard (fraction of equal minhashes), keep est >= 0.3.
# Scale: the band self-join shuffles on band hash — candidates only; with
# b bands of r rows the false-candidate rate is tunable, and skewed buckets
# split under AQE.  This is the canonical 100 TB near-dup plan.
# ---------------------------------------------------------------------------

_EQ_SUM = " + ".join(
    f"(CASE WHEN sa.mh{i:02d} = sb.mh{i:02d} THEN 1 ELSE 0 END)" for i in range(S.MINHASH_K)
)

_LSH_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
), banded AS (
  SELECT doc_id, {', '.join(S.sql_band_hash_exprs())} FROM sig
), bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {j} AS band_idx, band{j} AS bh FROM banded" for j in range(S.LSH_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT doc_a, doc_b,
         round(cast({_EQ_SUM} as double) / {S.MINHASH_K}, 6) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
) WHERE est_jaccard >= 0.3
"""


@register("minhash_lsh_near_dup_pairs", _LSH_ORACLE, tags=("llm", "dedup", "join"), bench=True)
def minhash_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
    sig = hs.select(
        "doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig")
    )
    # Materialize signatures ONCE: both sides of the band self-join (and the
    # verification step) reuse them instead of recomputing shingle+md5 3×.
    # At 100 TB this is a persisted signatures table — standard practice;
    # the `table` materializer strategy does exactly that.
    sig = materialize(sig, "minhash-signatures")
    bands = sig.select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])  # same pair from multiple bands
    )
    return cand.select(
        "doc_a",
        "doc_b",
        S.minhash_est_jaccard_arrays(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= 0.3)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard within a blocking key (same source): the verification
# step of a dedup pipeline.  Scale: blocking key join, never all-pairs.
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, source, {S.sql_shingle_hashes('text')} AS sh FROM documents
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(cast(len(list_intersect(a.sh, b.sh)) as double)
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.12
"""


@register("ngram_jaccard_same_source_pairs", _JACCARD_ORACLE, tags=("llm", "dedup", "join"))
def ngram_jaccard_same_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle-bucketed self-join: source has ~20 distinct values, so a
    # plain source-blocked self-join caps parallelism at 20 straggler
    # tasks each owning a quadratic pair space (see triangle_self_pair_join).
    docs = spread(load(spark, sf_dir, "documents"))
    sh = docs.select("doc_id", "source", S.shingle_hashes(F.col("text")).alias("sh"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_distinct(F.concat(F.col("a.sh"), F.col("b.sh"))))
    return (
        triangle_self_pair_join(sh, id_col="doc_id", block_cols=["source"], n_buckets=8)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.12)
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: the ANN correctness baseline.
# Scale: the query side (10 vectors) broadcasts; the corpus streams through
# ONE scan; per-query rank via window on the broadcast key.  At 100 TB the
# corpus never shuffles — only the (tiny) scored candidates do.
# ---------------------------------------------------------------------------

_COS_TOPK_ORACLE = """
SELECT qid, neighbor_id, cos_sim, rn FROM (
  SELECT qid, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM (
    SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
  )
) WHERE rn <= 5
"""


@register("emb_cosine_topk_bruteforce", _COS_TOPK_ORACLE, tags=("llm", "ann"), bench=True)
def emb_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.numeric import dot, l2_norm

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        # query norms ride the broadcast — computed once per query
        l2_norm("embedding").alias("q_nrm"),
    )
    # corpus-side norms compute ONCE PER VECTOR before the fanout to
    # |q| pairs: the per-pair cosine is then one zip-fold (the dot)
    # instead of three — HOF folds never enter whole-stage codegen, so
    # fold count IS the cost model on a corpus x queries scan (the r10
    # hubness lesson).  l2_norm is the same fold as inside cosine(), so
    # every double (and the oracle hash) is unchanged.
    e = emb.select(
        "vec_id", "embedding", l2_norm("embedding").alias("e_nrm")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot("qv", "embedding")
            / (F.col("q_nrm") * F.col("e_nrm")),
            6,
        ).alias("cos_sim"),
    )
    # two-stage top-k: a bare per-qid window would push every qid's FULL
    # corpus of scored candidates through one task (operators/ranks.py).
    return topk_per_group(
        pairs, "qid", [F.desc("cos_sim"), F.asc("neighbor_id")], 5, rn_col="rn"
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN: bucket every vector by the sign pattern of
# HYPERPLANES projections; search only within the query's bucket.
# Scale: candidate generation = equi-join on bucket id (shuffle on a
# 2^HYPERPLANES-ary key), corpus scanned once; the recall/speed trade comes
# from the plane count — the classic SimHash ANN layout.
# ---------------------------------------------------------------------------

_B = S.sql_hyperplane_bucket("embedding")
_LSH_ANN_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_B} AS bucket FROM embeddings
)
SELECT qid, neighbor_id, bucket, cos_sim, rn FROM (
  SELECT qid, neighbor_id, bucket, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor_id, q.bucket AS bucket,
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
    FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 10
  )
) WHERE rn <= 3
"""


@register("emb_lsh_ann_topk", _LSH_ANN_ORACLE, tags=("llm", "ann", "lsh"))
def emb_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    b = emb.withColumn("bucket", S.hyperplane_bucket(F.col("embedding")))
    q = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    )
    cand = b.join(
        F.broadcast(q), (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("qid"))
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.col("qb").alias("bucket"),
        F.round(cosine("qv", "embedding"), 6).alias("cos_sim"),
    )
    # two-stage top-k (operators/ranks.py): per-qid candidates are
    # bucket-bounded but still corpus/2^planes rows — never one task.
    return topk_per_group(
        cand, "qid", [F.desc("cos_sim"), F.asc("neighbor_id")], 3, rn_col="rn"
    )


# ---------------------------------------------------------------------------
# Per-label centroids (IVF coarse-quantizer building block): exact decimal
# mean per (label, dim) — long format, one shuffle on (label, dim).
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
SELECT label, d AS dim,
       round(cast(sum(cast(embedding[d + 1] as decimal(30,10))) as double) / count(*), 6)
         AS centroid_val
FROM embeddings, range(64) t(d)
GROUP BY label, d
"""


@register("emb_centroid_per_label", _CENTROID_ORACLE, tags=("llm", "ann", "agg"))
def emb_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("centroid_val")
        )
    )


# ---------------------------------------------------------------------------
# IVF two-stage ANN (SURVEY §2.5 "IVF or LSH-bucketed variant"): coarse
# quantization by label-cell centroids (exact decimal means), probe the
# nprobe=3 nearest cells per query, exact cosine only within those cells.
# Scale: stage 1 touches n_cells centroids (broadcast); stage 2 scans only
# nprobe/n_cells of the corpus — the classic IVF trade.  Entirely
# relational: two broadcast joins + one window, no UDFs.
# ---------------------------------------------------------------------------

_IVF_ORACLE = """
WITH cent AS (
  SELECT label, list(c ORDER BY dim) AS centroid FROM (
    SELECT label, d AS dim,
           cast(round(cast(sum(cast(embedding[d + 1] as decimal(30,10))) as double)
                      / count(*), 6) as double) AS c
    FROM embeddings, range(64) t(d)
    GROUP BY label, d
  ) GROUP BY label
), q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10
), probe AS (
  SELECT qid, label FROM (
    SELECT q.qid, cent.label,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_dot_product(q.qv::DOUBLE[], cent.centroid) /
                   (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
                    sqrt(list_dot_product(cent.centroid, cent.centroid))), 6) DESC,
               cent.label) AS cell_rank
    FROM q, cent
  ) WHERE cell_rank <= 3
)
SELECT qid, neighbor_id, cos_sim, rn FROM (
  SELECT qid, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM (
    SELECT q.qid, e.vec_id AS neighbor_id,
           round(list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) *
                  sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos_sim
    FROM probe JOIN q USING (qid)
               JOIN embeddings e ON e.label = probe.label AND e.vec_id <> q.qid
  )
) WHERE rn <= 5
"""


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Exact per-cell centroids (order-independent decimal means),
    reassembled into arrays — (label, centroid), K rows, broadcastable.
    Shared by the inline two-stage query and the persisted-index BUILD
    (one definition keeps the decimal/round-6 oracle parity in one
    place)."""
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cent_long = exploded.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("c")
    )
    return cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s.c
        ).alias("centroid")
    )


@register("emb_ivf_two_stage_ann", _IVF_ORACLE, tags=("llm", "ann", "ivf"), bench=True)
def emb_ivf_two_stage_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # stage 0: centroid table — tiny → broadcast
    cent = _ivf_centroids(emb)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # stage 1: rank cells per query, keep nprobe=3
    scored_cells = q.crossJoin(F.broadcast(cent)).select(
        "qid", "label", F.round(cosine("qv", "centroid"), 6).alias("csim")
    )
    wcell = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("label"))
    probe = (
        scored_cells.withColumn("cell_rank", F.row_number().over(wcell))
        .filter(F.col("cell_rank") <= 3)
        .select("qid", "label")
    )
    # stage 2: exact cosine only within probed cells
    p = probe.join(F.broadcast(q), "qid").alias("p")
    e = emb.alias("e")
    cand = (
        p.join(e, (F.col("e.label") == F.col("p.label")) & (F.col("e.vec_id") != F.col("p.qid")))
        .select(
            F.col("p.qid").alias("qid"),
            F.col("e.vec_id").alias("neighbor_id"),
            F.round(cosine("p.qv", "e.embedding"), 6).alias("cos_sim"),
        )
    )
    # two-stage top-k (operators/ranks.py): probed-cell candidates scale
    # with cell population — never one task per qid.  (The wcell window
    # above is fine: it ranks K centroids per query, K is config-bounded.)
    return topk_per_group(
        cand, "qid", [F.desc("cos_sim"), F.asc("neighbor_id")], 5, rn_col="rn"
    )


# ---------------------------------------------------------------------------
# ANN self-audit: recall of the hyperplane-LSH top-3 against the exact
# brute-force top-3, per query vector.  The engine measures its own
# approximation quality — the number you watch when tuning plane count /
# nprobe at scale.  Composes the two queries above by reference (one
# definition each, reused on both engines).
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH bf AS (
  SELECT qid, neighbor_id FROM ({_COS_TOPK_ORACLE}) WHERE rn <= 3
), ann AS (
  SELECT qid, neighbor_id FROM ({_LSH_ANN_ORACLE})
)
SELECT bf.qid AS qid,
       count(ann.neighbor_id) AS n_hit,
       round(count(ann.neighbor_id) / 3.0, 6) AS recall_at_3
FROM bf LEFT JOIN ann ON bf.qid = ann.qid AND bf.neighbor_id = ann.neighbor_id
GROUP BY bf.qid
"""


@register("emb_lsh_recall_audit", _RECALL_ORACLE, tags=("llm", "ann", "audit"), bench=True)
def emb_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = emb_cosine_topk_bruteforce(spark, sf_dir).filter(F.col("rn") <= 3).select(
        "qid", "neighbor_id"
    )
    ann = emb_lsh_ann_topk(spark, sf_dir).select(
        F.col("qid").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        bf.join(
            ann,
            (bf.qid == F.col("a_qid")) & (bf.neighbor_id == F.col("a_nid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("a_nid").alias("n_hit"),
            F.round(F.count("a_nid") / 3.0, 6).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup pairs: exact Levenshtein over a fixed prefix,
# within-source, length-band prefiltered.  Complements the token-level
# dedup family (minhash/simhash/jaccard see shared vocabulary; edit
# distance sees character-level templating — boilerplate with small
# substitutions).  Scale: same triangle-bucketed pair shape as the
# jaccard query; the length-band residual prunes before the O(len²)
# distance, and the fixed 80-char prefix caps per-pair cost — prefix
# width and band are the knobs.  The DP itself is JVM-side (built-in
# ``levenshtein``), never a Python UDF.
# ---------------------------------------------------------------------------

_EDIT_DIST_ORACLE = """
WITH d AS (
  SELECT doc_id, source, n_chars, substr(text, 1, 80) AS p
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.p, b.p) AS prefix_edit_dist
FROM d a JOIN d b
  ON a.source = b.source AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 400
WHERE levenshtein(a.p, b.p) <= 50
"""


@register("docs_edit_distance_pairs", _EDIT_DIST_ORACLE, tags=("llm", "dedup", "text"))
def docs_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.substring("text", 1, 80).alias("p")
    )
    pairs = triangle_self_pair_join(d, id_col="doc_id", block_cols=["source"], n_buckets=8)
    return (
        pairs.filter(
            F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 400
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            # 3-arg thresholded form: banded DP that aborts once a row's
            # minimum exceeds 50 (returns -1 above threshold, the exact
            # distance otherwise — equivalent to the oracle's full-DP
            # `levenshtein(...) <= 50` filter, cheaper on far pairs).
            F.expr("levenshtein(a.p, b.p, 50)").alias("prefix_edit_dist"),
        )
        .filter(F.col("prefix_edit_dist") >= 0)
    )


# ---------------------------------------------------------------------------
# Scale-safe edit-distance near-dup: the PRODUCTION composition.  The exact
# query above is a bounded-scope audit (all pairs within a source block —
# 17.4× wall at 10×, by contract); this one generates candidates with the
# MinHash-LSH band join (candidate volume tracks true near-dup density, not
# corpus²) and only then verifies with the thresholded Levenshtein DP.
# Scale: signatures computed once and materialized; the band self-join is
# the only pair generator (equi-join on (band_idx, band_hash) — shuffle on
# the band key); the per-pair DP runs on candidates only, JVM-side via the
# 3-arg early-abort `levenshtein`.  At 100 TB this is the same plan with
# the signature table persisted — the `table` materializer strategy.
# ---------------------------------------------------------------------------

_EDIT_LSH_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
), banded AS (
  SELECT doc_id, {', '.join(S.sql_band_hash_exprs())} FROM sig
), bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {j} AS band_idx, band{j} AS bh FROM banded" for j in range(S.LSH_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
), d AS (
  SELECT doc_id, substr(text, 1, 80) AS p FROM documents
)
SELECT doc_a, doc_b, levenshtein(da.p, db.p) AS prefix_edit_dist
FROM cand JOIN d da ON da.doc_id = doc_a JOIN d db ON db.doc_id = doc_b
WHERE levenshtein(da.p, db.p) <= 50
"""


@register("docs_edit_distance_near_dup", _EDIT_LSH_ORACLE, tags=("llm", "dedup", "text", "join"))
def docs_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
    sig = hs.select("doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig"))
    sig = materialize(sig, "editdist-lsh-signatures")
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    d = docs.select("doc_id", F.substring("text", 1, 80).alias("p"))
    return (
        cand.join(d.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa")), "doc_a")
        .join(d.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("levenshtein(pa, pb, 50)").alias("prefix_edit_dist"),
        )
        .filter(F.col("prefix_edit_dist") >= 0)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: match an incoming INCREMENT of documents against the
# existing corpus INDEX without touching index×index pairs — the shape
# every production ingest runs (per-batch dedup against a persisted
# signature table; recomputing all pairs per ingest is O(corpus²) and
# impossible at 100 TB).  The increment here is carved out by a hash
# gate (~10% of docs) so the query is self-contained and oracle-exact;
# in production the increment is the new batch and the index signatures
# are the materialized table the `table` materializer strategy writes.
# Scale: signatures computed once per side, banded equi-join is
# increment-bands × index-bands only — candidate volume scales with the
# INCREMENT, not the corpus, and a small increment's band table
# broadcasts under AQE.
# ---------------------------------------------------------------------------


_INCR_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs,
         {_sql_h32("'incr|' || cast(doc_id AS VARCHAR)")} % 10 AS g
  FROM documents
), sig AS (
  SELECT doc_id, g, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
), banded AS (
  SELECT doc_id, g, {', '.join(S.sql_band_hash_exprs())} FROM sig
), bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, g, {j} AS band_idx, band{j} AS bh FROM banded" for j in range(S.LSH_BANDS))}
), cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, x.doc_id AS index_doc
  FROM bands n JOIN bands x ON n.band_idx = x.band_idx AND n.bh = x.bh
  WHERE n.g = 7 AND x.g <> 7
), scored AS (
  SELECT new_doc, index_doc,
         round(cast({_EQ_SUM} as double) / {S.MINHASH_K}, 6) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = new_doc JOIN sig sb ON sb.doc_id = index_doc
)
SELECT new_doc, count(*) AS n_index_matches,
       max(est_jaccard) AS best_est, min(index_doc) AS first_match
FROM scored WHERE est_jaccard >= 0.3
GROUP BY new_doc
"""


@register("dedup_incremental_vs_index", _INCR_ORACLE, tags=("llm", "dedup", "join"))
def dedup_incremental_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import stable_hash32

    docs = spread(load(spark, sf_dir, "documents"))
    hs = docs.select(
        "doc_id",
        S.shingle_hashes(F.col("text")).alias("hs"),
        (stable_hash32(F.concat(F.lit("incr|"), F.col("doc_id").cast("string"))) % 10).alias("g"),
    )
    sig = materialize(
        hs.select("doc_id", "g", F.array(*S.minhash_cols(F.col("hs"))).alias("sig")),
        "incr-signatures",
    )
    bands = sig.select(
        "doc_id", "g", "sig",
        F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
    )
    incr = bands.filter(F.col("g") == 7).alias("n")
    index = bands.filter(F.col("g") != 7).alias("x")
    cand = (
        incr.join(
            index,
            (F.col("n.band_idx") == F.col("x.band_idx")) & (F.col("n.bh") == F.col("x.bh")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("x.doc_id").alias("index_doc"),
            F.col("n.sig").alias("sig_a"),
            F.col("x.sig").alias("sig_b"),
        )
        .dropDuplicates(["new_doc", "index_doc"])
    )
    scored = cand.select(
        "new_doc",
        "index_doc",
        S.minhash_est_jaccard_arrays(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= 0.3)
    return scored.groupBy("new_doc").agg(
        F.count(F.lit(1)).alias("n_index_matches"),
        F.max("est_jaccard").alias("best_est"),
        F.min("index_doc").alias("first_match"),
    )


# ---------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval audit: rank by cosine over
# only the FIRST 32 of 64 dimensions and measure recall@3 against the
# full-dimension exact top-3 — the adaptive-retrieval question MRL-style
# embeddings pose ("how much ranking quality do the cheap prefix dims
# keep?").  Same plan shape as the brute-force baseline: query side
# broadcasts, corpus streams once, two-stage top-k; the only change is
# the slice, which HALVES the per-candidate dot-product cost — exactly
# the economics truncated retrieval buys at 100 TB.
#
# Determinism: both engines compute the same IEEE chain (sequential
# fold dot products on identical doubles, one sqrt/div/round), the same
# contract every cosine query here relies on.
# ---------------------------------------------------------------------------

_MAT_DIMS = 32

_MATRYOSHKA_ORACLE = f"""
WITH fullk AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM (
      SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
    )
  ) WHERE rn <= 3
), pre AS (
  SELECT vec_id, embedding[1:{_MAT_DIMS}]::DOUBLE[] AS p FROM embeddings
), prek AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM (
      SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
             round(list_dot_product(a.p, b.p) /
                   (sqrt(list_dot_product(a.p, a.p)) *
                    sqrt(list_dot_product(b.p, b.p))), 6) AS cos_sim
      FROM pre a JOIN pre b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
    )
  ) WHERE rn <= 3
)
SELECT f.qid,
       count(p.neighbor_id) AS n_hit,
       round(count(p.neighbor_id) / 3.0, 6) AS recall_at_3
FROM fullk f
LEFT JOIN prek p ON p.qid = f.qid AND p.neighbor_id = f.neighbor_id
GROUP BY f.qid
ORDER BY f.qid
"""


@register(
    "emb_matryoshka_recall",
    _MATRYOSHKA_ORACLE,
    tags=("llm", "ann", "audit"),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of 32-dim prefix-cosine ranking vs the full 64-dim
    exact top-3, per query vector."""
    emb = load(spark, sf_dir, "embeddings")
    pre = emb.select("vec_id", F.slice("embedding", 1, _MAT_DIMS).alias("p"))
    q = pre.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("p").alias("qv")
    )
    pairs = pre.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine("qv", "p"), 6).alias("cos_sim"),
    )
    prek = topk_per_group(
        pairs, "qid", [F.desc("cos_sim"), F.asc("neighbor_id")], 3, rn_col="rn"
    ).select(F.col("qid").alias("p_qid"), F.col("neighbor_id").alias("p_nid"))
    fullk = emb_cosine_topk_bruteforce(spark, sf_dir).filter(F.col("rn") <= 3).select(
        "qid", "neighbor_id"
    )
    return (
        fullk.join(
            prek,
            (fullk.qid == F.col("p_qid")) & (fullk.neighbor_id == F.col("p_nid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("p_nid").alias("n_hit"),
            F.round(F.count("p_nid") / 3.0, 6).alias("recall_at_3"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009): the
# RAG-serving pattern — a lexical BM25 ranking and a dense cosine ranking
# fused by RRF(d) = Σ_legs 1/(60 + rank_leg(d)), which rewards documents
# BOTH retrievers surface without comparing incomparable score scales.
#
# Exact-integer fusion: contribution = 1_000_000 // (60 + rank) per leg
# (missing leg = 0), so fused scores are bit-identical on any engine.
# Doc↔vector linkage is vec_id = doc_id (the embedding row of the
# document); partial coverage (docs without embeddings, vectors without
# text hits) is the realistic serving case and the outer fuse handles it.
#
# Scale shape: the BM25 leg is the postings plan (work ∝ matched
# postings); the dense leg broadcasts ONE query vector and streams the
# corpus once into a TakeOrdered top-k (no global sort, no window over
# the corpus); the two rank assignments and the fuse run on k-bounded
# (≤20-row) frames — single-partition windows there are k-bounded by
# construction, not data-bounded.  At 100 TB the dense leg swaps in the
# IVF-PQ searcher (emb_ivf_pq_search) — the fusion is rank-based, so the
# plan above the legs is unchanged.
# ---------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant
_RRF_SCALE = 1_000_000
_FUSE_TOP = 10

_HYBRID_RRF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (
    SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
    FROM documents
  ) WHERE t <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), g AS (
  SELECT cast(sum(dl) AS BIGINT) AS big_l, count(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, least(count(*), 63) AS tf
  FROM tok WHERE term IN ('vector', 'stream', 'hash')
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term, ((n_docs - df + 1) * 1000) // (df + 1) AS idf_fp FROM df, g
), s AS (
  SELECT tf.doc_id,
         (idf_fp * tf * 44 * big_l)
           // (20 * tf * big_l + 6 * big_l + 18 * dl.dl * n_docs) AS s_fp
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), g
), lex0 AS (
  SELECT doc_id, cast(sum(s_fp) AS BIGINT) AS score_fp
  FROM s GROUP BY doc_id
  ORDER BY score_fp DESC, doc_id LIMIT 20
), lex AS (
  SELECT doc_id, cast(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS BIGINT) AS lex_rank
  FROM lex0
), qv AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = 0
), sem0 AS (
  SELECT c.vec_id AS doc_id,
         round(list_dot_product(q.q::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.q::DOUBLE[], q.q::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM embeddings c, qv q WHERE c.vec_id <> 0
  ORDER BY cos_sim DESC, doc_id LIMIT 20
), sem AS (
  SELECT doc_id, cast(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS sem_rank
  FROM sem0
)
SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       cast(coalesce({_RRF_SCALE} // ({_RRF_K} + lex_rank), 0)
          + coalesce({_RRF_SCALE} // ({_RRF_K} + sem_rank), 0) AS BIGINT) AS rrf_fp,
       lex_rank, sem_rank
FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_fp DESC, doc_id
LIMIT {_FUSE_TOP}
"""


@register(
    "search_hybrid_rrf_fusion",
    _HYBRID_RRF_ORACLE,
    tags=("llm", "search", "ann", "topk"),
)
def search_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by exact-integer reciprocal-rank fusion of the
    BM25 postings ranking and the dense cosine ranking (query = vec 0)."""
    from event_streaming_spark.plans.scale import docs_bm25_postings_rank

    lex0 = docs_bm25_postings_rank(spark, sf_dir)  # ≤20 rows by construction
    # k-bounded single-partition window (20 rows), NOT a corpus window
    w = Window.orderBy(F.desc("score_fp"), "doc_id")
    lex = lex0.select(
        "doc_id", F.row_number().over(w).cast("long").alias("lex_rank")
    )
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    sem0 = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("q", "embedding"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(20)
    )
    ws = Window.orderBy(F.desc("cos_sim"), "doc_id")
    sem = sem0.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full").select(
        "doc_id",
        (
            F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + sem_rank)"), F.lit(0))
        ).cast("long").alias("rrf_fp"),
        "lex_rank",
        "sem_rank",
    )
    return fused.orderBy(F.desc("rrf_fp"), "doc_id").limit(_FUSE_TOP)


# ---------------------------------------------------------------------------
# Persisted IVF index search: build the index ONCE as a cell-partitioned
# table (operators/ivfindex.py — module doc has the 100 TB story), then
# answer the query batch by scanning ONLY the probed cells' partitions.
# Same semantics as emb_ivf_two_stage_ann (same oracle); the difference
# is the physical path: partition pruning replaces the full-corpus scan,
# which is the build/search split every production vector store makes.
# The probed-cell collect is |queries|×nprobe-bounded (30 here) — a
# config-sized driver list, the same class as the Bloom manifest.
# ---------------------------------------------------------------------------


# The single-query oracle is the batch oracle with the query-set predicate
# narrowed to one vector.  Derive it by replacement, but FAIL LOUDLY if the
# anchor string is ever reworded — a silent no-op would grade this query
# against the wrong (10-query) oracle (r6 review).
_IVF_SINGLE_ORACLE = _IVF_ORACLE.replace("WHERE vec_id < 10", "WHERE vec_id = 0")
assert _IVF_SINGLE_ORACLE != _IVF_ORACLE, (
    "anchor 'WHERE vec_id < 10' not found in _IVF_ORACLE — "
    "the single-query oracle derivation silently no-opped"
)


@register(
    "emb_ivf_persisted_index_search",
    # the SERVING case: one query vector — |probes| = nprobe < k by
    # construction, so the pruned read is honestly partial at any SF
    # (a query BATCH can union its probes to every cell; see BASELINE's
    # r6 pruning measurement for the batch-degeneracy caveat)
    _IVF_SINGLE_ORACLE,
    tags=("llm", "ann", "ivf", "store"),
)
def emb_ivf_persisted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from event_streaming_spark.operators.ivfindex import (
        build_ivf_index,
        probe_cells,
        read_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    idx_dir = tempfile.mkdtemp(prefix="est-ivfidx-")
    try:
        # BUILD: cell = coarse quantizer output (the per-label mean is the
        # exact centroid of cell=label, so label IS the assignment here —
        # the same quantizer emb_ivf_two_stage_ann uses inline).  The
        # K-row centroid table persists WITH the index: search reads it
        # back instead of re-deriving it with a full corpus scan (which
        # would defeat the build/search split).
        build_ivf_index(
            emb.withColumn("cell", F.col("label")), idx_dir, centroids=_ivf_centroids(emb)
        )

        # SEARCH from here on: only the persisted index is touched —
        # the K-row centroid table plus the probed cells' partitions.
        cent = read_centroids(idx_dir, spark)
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        scored_cells = q.crossJoin(F.broadcast(cent)).select(
            "qid",
            "label",
            F.round(cosine("qv", "centroid"), 6).alias("csim"),
        )
        wcell = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("label"))
        probe = (
            scored_cells.withColumn("cell_rank", F.row_number().over(wcell))
            .filter(F.col("cell_rank") <= 3)
            .select("qid", F.col("label").alias("cell"))
        )
        # |queries|×nprobe-bounded collect → literal IN → partition pruning
        cells = sorted({r["cell"] for r in probe.select("cell").distinct().collect()})
        pruned = probe_cells(idx_dir, spark, cells)

        p = probe.join(F.broadcast(q), "qid").alias("p")
        e = pruned.alias("e")
        cand = p.join(
            e,
            (F.col("e.cell") == F.col("p.cell"))
            & (F.col("e.vec_id") != F.col("p.qid")),
        ).select(
            F.col("p.qid").alias("qid"),
            F.col("e.vec_id").alias("neighbor_id"),
            F.round(cosine("p.qv", "e.embedding"), 6).alias("cos_sim"),
        )
        out = topk_per_group(
            cand, "qid", [F.desc("cos_sim"), F.asc("neighbor_id")], 5, rn_col="rn"
        )
        # the search leg IS the scale story (PartitionFilters over the
        # probed cells) — expose it to tools/dump_plans.py, which the
        # returned (localized) DataFrame can't show
        capture_plan("emb_ivf_persisted_index_search/search_leg", out)
        # result-sized localization before the index tmpdir goes away
        pdf = out.toPandas()
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "qid long, neighbor_id long, cos_sim double, rn int"
    )


# ===========================================================================
# LLM-pipeline audits: int8 scalar-quantization recall, vocab
# coverage (OOV rate), and exact containment detection.
#
# * ``emb_int8_scalar_quant_recall`` — the SERVING-side complement of the
#   PQ family: scalar (per-dimension affine) int8 quantization is what
#   FAISS ``SQ8`` / most vector DBs ship as the cheap memory-4× option;
#   the audit measures recall@10 of quantized search against exact
#   search.  Everything is exact integer arithmetic (µ-scaled longs,
#   floor-division codes), so both engines rank identically and the
#   driver's value-hash pins the whole codec.
# * ``text_vocab_oov_rate`` — tokenizer/vocab coverage: build the top-K
#   corpus vocabulary, report per-source out-of-vocabulary ppm.  The
#   pre-flight check before committing a tokenizer to a data mix; OOV
#   spikes localize sources that need vocab or filtering work.
# * ``docs_containment_prefix_join`` — asymmetric set CONTAINMENT
#   C(A,B) = |A∩B| / |A| ≥ t: the quote/sub-document detector (a near-dup
#   of a 10-line doc hiding inside a 10k-line doc has tiny Jaccard but
#   containment ≈ 1).  Prefix-filtered like the Jaccard join, with the
#   containment-specific pigeonhole: A's |A| − ⌈t·|A|⌉ + 1 globally
#   rarest shingles must hit B, so the candidate join is A-prefix ×
#   full-index on RARE keys only — bucket sizes bounded by the prefix
#   shingle's document frequency, never the 'the'-bucket.
#
# Late-session additions (same audit discipline):
#
# * ``dedup_minhash_estimator_calibration`` — the 16-permutation
#   estimator measured against EXACT Jaccard on every LSH candidate pair
#   (ppm |error| histogram); costs exactly the verify stage it
#   calibrates.
# * ``docs_kanon_quasi_identifier_risk`` — k-anonymity suppression report
#   over the (lang, source, length-bucket) quasi-identifier tuple for
#   k ∈ {2, 5, 10}.
# ===========================================================================

# ---------------------------------------------------------------------------
# int8 scalar quantization recall audit
# Scale: per-dim min/max is one narrow pass (64 groups); codes are a
# per-row transform (no shuffle); search is broadcast-queries × one
# corpus scan for each leg; ranks via two-stage top-k.  At 100 TB the
# corpus never shuffles — exactly the brute-force baseline's shape, run
# twice (exact ints vs dequantized ints).
# ---------------------------------------------------------------------------

_SQ8_K = 10
_SQ8_NQ = 5

_SQ8_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> cast(round(x * 1000000) AS BIGINT)) AS vq
  FROM embeddings
), x AS (
  SELECT vec_id, unnest(vq) AS v, generate_subscripts(vq, 1) AS pos FROM e
), d AS (
  SELECT pos, min(v) AS mn, max(v) AS mx FROM x GROUP BY pos
), code AS (
  SELECT x.vec_id, x.pos, d.mn, d.mx,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE ((x.v - d.mn) * 255) // (d.mx - d.mn) END AS c
  FROM x JOIN d USING (pos)
), deq AS (
  SELECT vec_id, pos, mn + (c * (mx - mn)) // 255 AS dv FROM code
), ed AS (
  SELECT qa.vec_id AS qid, xb.vec_id AS nid, sum(qa.v * xb.v) AS dot
  FROM x qa JOIN x xb ON qa.pos = xb.pos
  WHERE qa.vec_id < {_SQ8_NQ} AND xb.vec_id <> qa.vec_id
  GROUP BY qa.vec_id, xb.vec_id
), qd AS (
  SELECT qa.vec_id AS qid, xb.vec_id AS nid, sum(qa.dv * xb.dv) AS dot
  FROM deq qa JOIN deq xb ON qa.pos = xb.pos
  WHERE qa.vec_id < {_SQ8_NQ} AND xb.vec_id <> qa.vec_id
  GROUP BY qa.vec_id, xb.vec_id
), etop AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
    FROM ed) WHERE rn <= {_SQ8_K}
), qtop AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
    FROM qd) WHERE rn <= {_SQ8_K}
)
SELECT e.qid AS qid,
       cast(count(q.nid) AS BIGINT) AS n_overlap,
       cast(count(q.nid) * 1000000 // {_SQ8_K} AS BIGINT) AS recall_ppm
FROM etop e LEFT JOIN qtop q ON e.qid = q.qid AND e.nid = q.nid
GROUP BY e.qid ORDER BY qid
"""


@register(
    "emb_int8_scalar_quant_recall",
    _SQ8_ORACLE,
    tags=("llm", "ann", "quantization", "audit"),
)
def emb_int8_scalar_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
        ).alias("vq"),
    )
    # per-dim min/max: one narrow pass, 64 groups, collected as literals
    dims = (
        emb.select(F.posexplode("vq").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mn = [int(r["mn"]) for r in dims]
    span = [int(r["mx"]) - int(r["mn"]) for r in dims]
    mn_arr = F.array(*[F.lit(v) for v in mn])
    span_arr = F.array(*[F.lit(v) for v in span])

    def dequant(col):
        # code = ((v - mn) * 255) div span; dq = mn + (code * span) div 255
        # — all nonnegative numerators, so long-cast truncation == floor
        # (identical to DuckDB's // on the same nonnegative ints).
        def f(x, i):
            m = F.element_at(mn_arr, i + 1)
            s = F.element_at(span_arr, i + 1)
            c = F.when(s == 0, F.lit(0)).otherwise(
                ((x - m) * 255 / s).cast("long")
            )
            return m + (c * s / 255).cast("long")

        return F.transform(col, f)

    both = emb.withColumn("dq", dequant(F.col("vq")))
    q = both.where(F.col("vec_id") < _SQ8_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("vq").alias("q_vq"),
        F.col("dq").alias("q_dq"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = both.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        dot(F.col("q_vq"), F.col("vq")).alias("edot"),
        dot(F.col("q_dq"), F.col("dq")).alias("qdot"),
    )
    scored = materialize(scored, name="sq8-scored")  # two rank legs, one scan
    etop = topk_per_group(
        scored, "qid", [F.col("edot").desc(), F.col("nid")], _SQ8_K, rn_col="rn"
    ).select("qid", "nid")
    qtop = topk_per_group(
        scored, "qid", [F.col("qdot").desc(), F.col("nid")], _SQ8_K, rn_col="rn"
    ).select("qid", F.col("nid").alias("q_nid"))
    return (
        etop.join(
            qtop,
            (etop.qid == qtop.qid) & (etop.nid == qtop.q_nid),
            "left",
        )
        .groupBy(etop.qid.alias("qid"))
        .agg(
            F.count("q_nid").alias("n_overlap"),
            (F.count("q_nid") * 1_000_000 / _SQ8_K).cast("long").alias("recall_ppm"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Vocab coverage / OOV rate
# Scale: word-count shuffle (the canonical one), vocab rank via the
# DISTRIBUTED global row number (operators/ranks.py — a 10⁸-term
# vocabulary never sorts on one task), then a broadcast semi-join of the
# config-sized vocab against the token stream.
# ---------------------------------------------------------------------------

_VOCAB_K = 1000

_OOV_ORACLE = f"""
WITH t AS (
  SELECT source, unnest(string_split({sql_normalize_text('text')}, ' ')) AS term
  FROM documents
), c AS (
  SELECT term, count(*) AS n FROM t GROUP BY term
), vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rn FROM c
  ) WHERE rn <= {_VOCAB_K}
)
SELECT t.source AS source,
       cast(count(*) AS BIGINT) AS n_tokens,
       cast(count(*) FILTER (WHERE v.term IS NULL) AS BIGINT) AS n_oov,
       cast(count(*) FILTER (WHERE v.term IS NULL) * 1000000 // count(*)
            AS BIGINT) AS oov_ppm
FROM t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.source ORDER BY source
"""


@register(
    "text_vocab_oov_rate",
    _OOV_ORACLE,
    tags=("llm", "text", "tokenizer", "audit"),
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.hashing import tokens as tok_fn
    from event_streaming_spark.operators.ranks import with_global_row_number

    docs = spread(load(spark, sf_dir, "documents"))
    stream = materialize(
        docs.select("source", F.explode(tok_fn(F.col("text"))).alias("term")),
        name="oov-stream",
    )
    counts = stream.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    ranked, _ = with_global_row_number(
        counts, [F.desc("n"), F.asc("term")], "rn"
    )
    vocab = ranked.where(F.col("rn") <= _VOCAB_K).select("term")
    joined = stream.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "term", "left"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("__in").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            ((F.col("n_oov") * 1_000_000) / F.col("n_tokens"))
            .cast("long")
            .alias("oov_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact containment join (quote / sub-document detection)
# Runs over exact-dedup REPRESENTATIVES (min doc_id per distinct text) —
# the curation-pipeline ordering: exact dedup is stage 1
# (corpus_curation_end_to_end), so the containment detector never
# re-discovers the identical-text cliques; candidate volume scales with
# UNIQUE content.  The oracle states the same spec.
# ---------------------------------------------------------------------------

# containment threshold t = C_NUM / C_DEN = 4/5
_C_NUM, _C_DEN = 4, 5

_CONTAIN_ORACLE = f"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), docs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN reps USING (doc_id)
), hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM docs
), tok AS (
  SELECT DISTINCT doc_id, unnest(hs) AS sh FROM hs
), sz AS (
  SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
), dfreq AS (
  SELECT sh, count(*) AS dfc FROM tok GROUP BY sh
), ranked AS (
  SELECT t.doc_id, t.sh, s.n,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfc, t.sh) AS rn
  FROM tok t JOIN dfreq d USING (sh) JOIN sz s USING (doc_id)
), prefix AS (
  SELECT doc_id, sh FROM ranked
  WHERE rn <= n - ({_C_NUM} * n + {_C_DEN} - 1) // {_C_DEN} + 1
), cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, t.doc_id AS doc_b
  FROM prefix p JOIN tok t ON p.sh = t.sh AND p.doc_id <> t.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, sa.n AS na, count(*) AS n_common
  FROM cand c
  JOIN sz sa ON sa.doc_id = c.doc_a
  JOIN tok ta ON ta.doc_id = c.doc_a
  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
  GROUP BY c.doc_a, c.doc_b, sa.n
)
SELECT doc_a, doc_b, n_common, na,
       cast(n_common * 1000000 // na AS BIGINT) AS containment_ppm
FROM inter
WHERE {_C_DEN} * n_common >= {_C_NUM} * na
ORDER BY doc_a, doc_b
"""


@register(
    "docs_containment_prefix_join",
    _CONTAIN_ORACLE,
    tags=("llm", "dedup", "join", "scale"),
)
def docs_containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs (a, b) with |shingles(a) ∩ shingles(b)| ≥ t·|shingles(a)|.

    Pigeonhole for the candidate step: if A∩B misses ALL of A's
    |A| − ⌈t·|A|⌉ + 1 rarest shingles, then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| —
    so joining A-prefixes against the full index finds every qualifying
    ordered pair.  The full-index side is only probed at the prefix's
    RARE keys (bucket size = that shingle's document frequency)."""
    docs = spread(load(spark, sf_dir, "documents"))
    reps = (
        docs.select("doc_id", F.md5("text").alias("g"))
        .groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    uniq = docs.join(reps, "doc_id").select("doc_id", "text")
    sets = materialize(
        uniq.select(
            "doc_id",
            F.array_distinct(S.shingle_hashes(F.col("text"))).alias("hs"),
        ).withColumn("n", F.size("hs")),
        name="contain-sets",
    )
    tok = sets.select("doc_id", "n", F.explode("hs").alias("sh"))
    dfreq = tok.groupBy("sh").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = tok.join(dfreq, "sh").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("dfc", "sh")),
    )
    plen = F.col("n") - F.expr(f"({_C_NUM} * n + {_C_DEN} - 1) div {_C_DEN}") + 1
    prefix = ranked.where(F.col("rn") <= plen).select("doc_id", "sh")
    cand = (
        prefix.alias("p")
        .join(
            tok.select("doc_id", "sh").alias("t"),
            (F.col("p.sh") == F.col("t.sh"))
            & (F.col("p.doc_id") != F.col("t.doc_id")),
        )
        .select(
            F.col("p.doc_id").alias("doc_a"), F.col("t.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("ha"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ha", "hb")).alias("n_common"),
            "na",
        )
        .where(_C_DEN * F.col("n_common") >= _C_NUM * F.col("na"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_common",
        "na",
        ((F.col("n_common") * 1_000_000) / F.col("na")).cast("long").alias(
            "containment_ppm"
        ),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified top-k retrieval — the
# diversity-aware re-ranker every few-shot/example-selection pipeline
# runs after ANN: greedily pick the candidate maximizing
# λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s).  λ = 7/10 and all
# scores are integer dot products of µ-scaled vectors, so the greedy
# argmax (ties → smallest vec_id) is bit-deterministic in both engines
# and the oracle can replay the k=3 selection as chained CTEs.
#
# Scale: relevance is the broadcast-query one-corpus-scan dot; each MMR
# step joins candidates against the SELECTED set (≤ k−1 vectors,
# broadcast as literals) and takes a distributed argmax
# (two-stage top-1) — the greedy loop is O(k) scans, k config-bounded,
# with the corpus never shuffling.
# ---------------------------------------------------------------------------

_MMR_K = 3
_MMR_NQ = 5
# λ = 7/10: score_scaled = 7·rel − 3·maxsim (both int dots, ×10 overall)
_MMR_LN, _MMR_LD = 7, 3


def _mmr_oracle() -> str:
    pre = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> cast(round(x * 1000000) AS BIGINT)) AS vq
  FROM embeddings
), x AS (
  SELECT vec_id, unnest(vq) AS v, generate_subscripts(vq, 1) AS pos FROM e
), rel AS (
  SELECT qa.vec_id AS qid, xb.vec_id AS d, sum(qa.v * xb.v) AS r
  FROM x qa JOIN x xb ON qa.pos = xb.pos
  WHERE qa.vec_id < {_MMR_NQ} AND xb.vec_id <> qa.vec_id
  GROUP BY qa.vec_id, xb.vec_id
), sel1 AS (
  SELECT qid, d FROM (
    SELECT qid, d, row_number() OVER (
      PARTITION BY qid ORDER BY {_MMR_LN} * r DESC, d) AS rn
    FROM rel) WHERE rn = 1
)"""
    steps = []
    for step in (2, 3):
        union = " UNION ALL ".join(
            f"SELECT qid, d FROM sel{i}" for i in range(1, step)
        )
        steps.append(f"""
, selu{step} AS (
  {union}
), pen{step} AS (
  SELECT r.qid, r.d, max(sum_ab.s) AS maxsim
  FROM rel r JOIN (
    SELECT s.qid, xb.vec_id AS b, sum(xa.v * xb.v) AS s
    FROM selu{step} s
    JOIN x xa ON xa.vec_id = s.d
    JOIN x xb ON xb.pos = xa.pos
    GROUP BY s.qid, s.d, xb.vec_id
  ) sum_ab ON sum_ab.qid = r.qid AND sum_ab.b = r.d
  WHERE NOT EXISTS (
    SELECT 1 FROM selu{step} u WHERE u.qid = r.qid AND u.d = r.d)
  GROUP BY r.qid, r.d
), sel{step} AS (
  SELECT qid, d FROM (
    SELECT p.qid, p.d, row_number() OVER (
      PARTITION BY p.qid
      ORDER BY {_MMR_LN} * r.r - {_MMR_LD} * p.maxsim DESC, p.d) AS rn
    FROM pen{step} p JOIN rel r ON r.qid = p.qid AND r.d = p.d
  ) WHERE rn = 1
)""")
    return (
        pre
        + "".join(steps)
        + """
SELECT qid, 1 AS rank, d AS vec_id FROM sel1
UNION ALL SELECT qid, 2, d FROM sel2
UNION ALL SELECT qid, 3, d FROM sel3
ORDER BY qid, rank
"""
    )


@register(
    "emb_mmr_diversified_topk",
    _mmr_oracle(),
    tags=("llm", "ann", "rerank", "diversity"),
)
def emb_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
        ).alias("vq"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    q = emb.where(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("qid"), F.col("vq").alias("q_vq")
    )
    rel = materialize(
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
            "qid", F.col("vec_id").alias("d"), "vq", dot("q_vq", "vq").alias("r")
        ),
        name="mmr-rel",
    )

    # greedy selection: k distributed argmax passes, selected vectors
    # broadcast back as a tiny literal table each step
    sel_rows: list = []  # (qid, rank, d)
    sel_vecs: dict = {}  # qid -> list[(d, vq)]
    for rank in range(1, _MMR_K + 1):
        if rank == 1:
            scored = rel.select("qid", "d", (_MMR_LN * F.col("r")).alias("s"))
        else:
            sel_df = F.broadcast(
                local_frame(spark, 
                    [
                        (qid, d, vq)
                        for qid, pairs in sel_vecs.items()
                        for d, vq in pairs
                    ],
                    "qid long, sd long, svq array<bigint>",
                )
            )
            remaining = rel.join(
                sel_df.select("qid", F.col("sd").alias("d")), ["qid", "d"], "left_anti"
            )
            pen = (
                remaining.join(sel_df, "qid")
                .select("qid", "d", "r", dot("vq", "svq").alias("sim"))
                .groupBy("qid", "d")
                .agg(
                    F.first("r").alias("r"), F.max("sim").alias("maxsim")
                )
            )
            scored = pen.select(
                "qid",
                "d",
                (_MMR_LN * F.col("r") - _MMR_LD * F.col("maxsim")).alias("s"),
            )
            if rank == 2:
                # the scale-relevant INTERNAL plan: candidates × broadcast
                # selected-set penalty join (the returned DF is the
                # collected k×NQ selection rows)
                capture_plan("emb_mmr_diversified_topk/penalty_step", scored)
        top = topk_per_group(
            scored, "qid", [F.col("s").desc(), F.col("d")], 1, rn_col="rn"
        ).select("qid", "d")
        picked = {r["qid"]: r["d"] for r in top.collect()}  # ≤ NQ rows
        vecs = {
            r["qid"]: r["vq"]
            for r in rel.join(
                F.broadcast(
                    local_frame(spark, list(picked.items()), "qid long, d long")
                ),
                ["qid", "d"],
            )
            .select("qid", "vq")
            .collect()
        }
        for qid, d in picked.items():
            sel_rows.append((qid, rank, d))
            sel_vecs.setdefault(qid, []).append((d, list(vecs[qid])))
    return local_frame(spark, 
        sorted(sel_rows), "qid long, rank int, vec_id long"
    ).orderBy("qid", "rank")


# ---------------------------------------------------------------------------
# kNN leave-one-out label accuracy — the embedding-quality eval every
# labeled corpus gets before the embeddings are trusted for dedup or
# retrieval: predict each vector's label by 5-NN majority vote (exact
# integer dots; vote ties → smallest label) and report per-label
# accuracy.  Brute all-pairs here is the EVAL shape (run on a held-out
# sample); at corpus scale the candidate generation is the IVF/LSH path
# already in the catalog — this query is the audit those serve.
# ---------------------------------------------------------------------------

_KNN_K = 5

_KNN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> cast(round(x * 1000000) AS BIGINT)) AS vq
  FROM embeddings
), x AS (
  SELECT vec_id, unnest(vq) AS v, generate_subscripts(vq, 1) AS pos FROM e
), d AS (
  SELECT xa.vec_id AS a, xb.vec_id AS bid, sum(xa.v * xb.v) AS dot
  FROM x xa JOIN x xb ON xa.pos = xb.pos AND xa.vec_id <> xb.vec_id
  GROUP BY xa.vec_id, xb.vec_id
), top AS (
  SELECT a, bid FROM (
    SELECT a, bid, row_number() OVER (
      PARTITION BY a ORDER BY dot DESC, bid) AS rn
    FROM d) WHERE rn <= {_KNN_K}
), votes AS (
  SELECT t.a, e.label, count(*) AS cnt
  FROM top t JOIN e ON e.vec_id = t.bid
  GROUP BY t.a, e.label
), pred AS (
  SELECT a, label AS pred_label FROM (
    SELECT a, label, row_number() OVER (
      PARTITION BY a ORDER BY cnt DESC, label) AS rn
    FROM votes) WHERE rn = 1
)
SELECT e.label AS label,
       cast(count(*) AS BIGINT) AS n,
       cast(count(*) FILTER (WHERE p.pred_label = e.label) AS BIGINT)
         AS n_correct,
       cast(count(*) FILTER (WHERE p.pred_label = e.label) * 1000000
            // count(*) AS BIGINT) AS acc_ppm
FROM e JOIN pred p ON p.a = e.vec_id
GROUP BY e.label ORDER BY label
"""


@register(
    "emb_knn_leave_one_out_accuracy",
    _KNN_ORACLE,
    tags=("llm", "ann", "eval", "audit"),
)
def emb_knn_leave_one_out_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
        ).alias("vq"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    a = emb.select(
        F.col("vec_id").alias("a"), F.col("label").alias("true_label"),
        F.col("vq").alias("avq"),
    )
    b = emb.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("b_label"),
        F.col("vq").alias("bvq"),
    )
    scored = a.join(F.broadcast(b), F.col("a") != F.col("bid")).select(
        "a", "true_label", "bid", "b_label", dot("avq", "bvq").alias("dot")
    )
    top = topk_per_group(
        scored, "a", [F.col("dot").desc(), F.col("bid")], _KNN_K, rn_col="rn"
    )
    votes = top.groupBy("a", "true_label", "b_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = topk_per_group(
        votes.withColumnRenamed("b_label", "pred_label").select(
            "a", "true_label", "pred_label", "cnt"
        ),
        "a",
        [F.col("cnt").desc(), F.col("pred_label")],
        1,
        rn_col="rn",
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("pred_label") == F.col("true_label"), 1)).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            "n",
            "n_correct",
            ((F.col("n_correct") * 1_000_000) / F.col("n")).cast("long").alias(
                "acc_ppm"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# MinHash estimator CALIBRATION: before trusting "est_jaccard >= 0.3" as
# a dedup threshold, measure the 16-permutation estimator against EXACT
# Jaccard on every LSH candidate pair (no threshold — the spread below
# the cut is exactly what calibration needs) and report the |error|
# histogram.  All integer ppm arithmetic, so the histogram is
# hash-exact across engines.
# Scale: candidates are band-collision-bounded (the LSH contract);
# exact Jaccard costs one array_intersect per CANDIDATE pair — the
# audit is exactly as expensive as the verify stage it calibrates.
# ---------------------------------------------------------------------------


def _calib_oracle() -> str:
    eq_sum = " + ".join(
        f"(CASE WHEN sa.mh{i:02d} = sb.mh{i:02d} THEN 1 ELSE 0 END)"
        for i in range(S.MINHASH_K)
    )
    return f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
), banded AS (
  SELECT doc_id, {', '.join(S.sql_band_hash_exprs())} FROM sig
), bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {j} AS band_idx, band{j} AS bh FROM banded" for j in range(S.LSH_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
), scored AS (
  SELECT c.doc_a, c.doc_b,
         ({eq_sum}) * 1000000 // {S.MINHASH_K} AS est_ppm,
         len(list_intersect(ha.hs, hb.hs)) * 1000000
           // len(list_distinct(list_concat(ha.hs, hb.hs))) AS exact_ppm
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  JOIN hs ha ON ha.doc_id = c.doc_a
  JOIN hs hb ON hb.doc_id = c.doc_b
), err AS (
  SELECT abs(est_ppm - exact_ppm) AS e FROM scored
)
SELECT CASE WHEN e <= 20000 THEN 'a_<=2pct'
            WHEN e <= 50000 THEN 'b_2-5pct'
            WHEN e <= 100000 THEN 'c_5-10pct'
            ELSE 'd_>10pct' END AS err_bucket,
       cast(count(*) AS BIGINT) AS n_pairs,
       cast(sum(e) // count(*) AS BIGINT) AS mean_abs_err_ppm
FROM err GROUP BY 1 ORDER BY 1
"""


@register(
    "dedup_minhash_estimator_calibration",
    _calib_oracle(),
    tags=("llm", "dedup", "sketch", "audit"),
    bench=True,  # r8: heaviest session addition — tracked round-over-round
)
def dedup_minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    hs = materialize(
        docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs")),
        name="calib-shingles",
    )
    sig = hs.select("doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig"))
    sig = materialize(sig, name="calib-signatures")
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias(
            "band_idx", "bh"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    eq = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size(F.array_distinct(F.concat("ha", "hb")))
    scored = (
        cand.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")),
            "doc_b",
        )
        .join(hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")), "doc_a")
        .join(hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")), "doc_b")
        .select(
            ((eq * 1_000_000) / S.MINHASH_K).cast("long").alias("est_ppm"),
            ((inter * 1_000_000) / union).cast("long").alias("exact_ppm"),
        )
    )
    e = F.abs(F.col("est_ppm") - F.col("exact_ppm"))
    bucket = (
        F.when(e <= 20_000, F.lit("a_<=2pct"))
        .when(e <= 50_000, F.lit("b_2-5pct"))
        .when(e <= 100_000, F.lit("c_5-10pct"))
        .otherwise(F.lit("d_>10pct"))
    )
    return (
        scored.select(bucket.alias("err_bucket"), e.alias("e"))
        .groupBy("err_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.sum("e") / F.count(F.lit(1))).cast("long").alias("mean_abs_err_ppm"),
        )
        .orderBy("err_bucket")
    )


# ---------------------------------------------------------------------------
# k-ANONYMITY audit over quasi-identifiers: before releasing a corpus
# (or its metadata) the governance question is "how many rows sit in a
# quasi-identifier equivalence class smaller than k?" — those rows are
# re-identifiable by joining the QI tuple against an external table.
# QI here = (lang, source, 500-char length bucket); the report gives,
# for k ∈ {2, 5, 10}, the class count below k, the rows that would need
# suppression, and the suppression rate in exact ppm.
# Scale: ONE groupBy over the (bounded-domain) QI tuple; everything
# after runs on the classes-sized summary — the fact table is scanned
# once regardless of how many k thresholds are reported.
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH qi AS (
  SELECT lang, source, n_chars // 500 AS size_bucket,
         cast(count(*) AS BIGINT) AS g
  FROM documents GROUP BY 1, 2, 3
), tot AS (
  SELECT cast(sum(g) AS BIGINT) AS n_rows,
         cast(count(*) AS BIGINT) AS n_classes
  FROM qi
), ks AS (
  SELECT unnest([2, 5, 10]) AS k
)
SELECT ks.k,
       tot.n_classes,
       cast(coalesce(sum(CASE WHEN qi.g < ks.k THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS classes_below_k,
       cast(coalesce(sum(CASE WHEN qi.g < ks.k THEN qi.g ELSE 0 END), 0) AS BIGINT)
         AS rows_suppressed,
       cast(coalesce(sum(CASE WHEN qi.g < ks.k THEN qi.g ELSE 0 END), 0)
            * 1000000 // tot.n_rows AS BIGINT) AS suppressed_ppm
FROM ks CROSS JOIN tot CROSS JOIN qi
GROUP BY ks.k, tot.n_classes, tot.n_rows
ORDER BY ks.k
"""


@register(
    "docs_kanon_quasi_identifier_risk",
    _KANON_ORACLE,
    tags=("llm", "governance", "audit"),
)
def docs_kanon_quasi_identifier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Pin the classes-sized QI summary: the totals and the per-k rollup
    # both read it — unpinned, each branch re-scans the corpus.
    qi = materialize(
        docs.groupBy(
            "lang",
            "source",
            (F.col("n_chars") / 500).cast("long").alias("size_bucket"),
        ).agg(F.count(F.lit(1)).cast("long").alias("g")),
        name="kanon-qi-classes",
    )
    tot = qi.agg(
        F.sum("g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    ks = docs.sparkSession.range(0, 3).select(
        F.element_at(F.array(F.lit(2), F.lit(5), F.lit(10)), (F.col("id") + 1).cast("int")).alias("k")
    )
    joined = ks.crossJoin(F.broadcast(tot)).crossJoin(qi)
    out = (
        joined.groupBy("k", "n_classes", "n_rows")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("g") < F.col("k"), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("classes_below_k"),
            F.coalesce(
                F.sum(F.when(F.col("g") < F.col("k"), F.col("g")).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("rows_suppressed"),
        )
        .select(
            "k",
            "n_classes",
            "classes_below_k",
            "rows_suppressed",
            ((F.col("rows_suppressed") * 1_000_000) / F.col("n_rows"))
            .cast("long")
            .alias("suppressed_ppm"),
        )
        .orderBy("k")
    )
    capture_plan("docs_kanon_quasi_identifier_risk", out)
    return out


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding quantization recall — the 64x-memory
# extreme of the quantization family (SQ8 above keeps 8 bits/dim; this
# keeps ONE).  64 dims pack into a single int64 signature; candidate
# distance is popcount(xor) — the cheapest ANN scoring primitive there
# is, and the reason binary codes are the standard first-stage filter
# in billion-scale retrieval (Hamming ranking + exact re-rank).  The
# audit measures symmetric-Hamming recall@10 against exact integer
# dot-product top-10 for the same 5 queries as the SQ8 audit.
# Scale: signature build is one narrow pass (no shuffle); the Hamming
# leg scans signatures (8 bytes/vector — 64 GB for 8 B vectors) with a
# broadcast query block; ranks via two-stage top-k.  Everything is
# exact integers; ties break on nid in both engines.
# ---------------------------------------------------------------------------

_BSQ_K = 10
_BSQ_NQ = 5
_BSQ_SIGN = -9223372036854775808  # bit 63 — the int64 sign bit

_BSQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> cast(round(x * 1000000) AS BIGINT)) AS vq
  FROM embeddings
), x AS (
  SELECT vec_id, unnest(vq) AS v, generate_subscripts(vq, 1) AS pos FROM e
), sig AS (
  SELECT vec_id,
         cast(sum(CASE WHEN v > 0 THEN
                    CASE WHEN pos = 1 THEN {_BSQ_SIGN}
                         ELSE (1::BIGINT << (64 - pos)) END
                  ELSE 0 END) AS BIGINT) AS s
  FROM x GROUP BY vec_id
), ed AS (
  SELECT qa.vec_id AS qid, xb.vec_id AS nid, sum(qa.v * xb.v) AS dot
  FROM x qa JOIN x xb ON qa.pos = xb.pos
  WHERE qa.vec_id < {_BSQ_NQ} AND xb.vec_id <> qa.vec_id
  GROUP BY qa.vec_id, xb.vec_id
), hd AS (
  SELECT q.vec_id AS qid, b.vec_id AS nid, bit_count(xor(q.s, b.s)) AS ham
  FROM sig q JOIN sig b ON b.vec_id <> q.vec_id
  WHERE q.vec_id < {_BSQ_NQ}
), etop AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
    FROM ed) WHERE rn <= {_BSQ_K}
), htop AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY ham ASC, nid) AS rn
    FROM hd) WHERE rn <= {_BSQ_K}
)
SELECT e.qid AS qid,
       cast(count(h.nid) AS BIGINT) AS n_overlap,
       cast(count(h.nid) * 1000000 // {_BSQ_K} AS BIGINT) AS recall_ppm
FROM etop e LEFT JOIN htop h ON h.qid = e.qid AND h.nid = e.nid
GROUP BY e.qid ORDER BY qid
"""


@register(
    "emb_binary_sign_hamming_recall",
    _BSQ_ORACLE,
    tags=("llm", "ann", "quantization", "audit"),
)
def emb_binary_sign_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
        ).alias("vq"),
    )
    x = emb.select("vec_id", F.posexplode("vq").alias("pos0", "v"))
    # shiftleft's shift amount wraps mod 64, so a >64-dim embedding would
    # SILENTLY collide bits while the oracle's 128-bit HUGEINT diverges —
    # fail loudly instead (the branch is lazy: it only evaluates if a row
    # actually has pos0 > 63, i.e. the fixture dim changed).
    bit = (
        F.when(
            F.col("pos0") > 63,
            F.assert_true(
                F.lit(False),
                F.lit("emb_binary_sign_hamming_recall: embedding dim > 64 — "
                      "sign-bit signature would wrap; widen to multi-word first"),
            ).cast("long"),
        )
        .when(
            F.col("v") > 0,
            F.when(F.col("pos0") == 0, F.lit(_BSQ_SIGN).cast("long")).otherwise(
                F.expr("shiftleft(1L, 63 - pos0)")
            ),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    sig = x.groupBy("vec_id").agg(F.sum(bit).cast("long").alias("s"))

    qs = sig.where(F.col("vec_id") < _BSQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("s").alias("qs")
    )
    hd = sig.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.bit_count(F.col("qs").bitwiseXOR(F.col("s"))).alias("ham"),
    )
    htop = topk_per_group(
        hd, "qid", [F.asc("ham"), F.asc("nid")], _BSQ_K, rn_col="rn"
    ).select(F.col("qid").alias("h_qid"), F.col("nid").alias("h_nid"))

    qv = emb.where(F.col("vec_id") < _BSQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("vq").alias("q_vq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("q_vq"), F.col("vq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    ed = emb.join(F.broadcast(qv), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nid"), dot.alias("dot")
    )
    etop = topk_per_group(
        ed, "qid", [F.desc("dot"), F.asc("nid")], _BSQ_K, rn_col="rn"
    ).select("qid", "nid")

    return (
        etop.join(
            htop,
            (F.col("qid") == F.col("h_qid")) & (F.col("nid") == F.col("h_nid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("h_nid").cast("long").alias("n_overlap"))
        .select(
            "qid",
            "n_overlap",
            (F.col("n_overlap") * 1_000_000 / _BSQ_K).cast("long").alias(
                "recall_ppm"
            ),
        )
        .orderBy("qid")
    )


# ===========================================================================
# Reference-LM and LSH audits: reference-LM quality scoring, LSH tuning, and
# training-feature/table queries.
#
# * ``text_lm_perplexity_vs_reference`` — the CCNet recipe (Wenzek et
#   al., "CCNet: Extracting High Quality Monolingual Datasets", 2020):
#   train a language model on a trusted reference slice, score every
#   source by perplexity; high-perplexity sources are junk candidates.
#   Here the LM is an add-1-smoothed bigram model trained on the
#   ``src0`` slice; per-source cross-entropy and perplexity come from
#   exact pair-type counts with the single ln() per PAIR TYPE rounded to
#   DECIMAL(18,6) before the (exact, order-independent) weighted sum.
# * ``docs_minhash_band_tuning_curve`` — the LSH S-curve in table form:
#   the SAME 16-permutation signatures banded three ways (16×1, 8×2,
#   4×4), reporting candidate volume and the share of candidates whose
#   estimated Jaccard clears 0.5.  The tuning readout that decides the
#   band/row trade (recall vs candidate cost) BEFORE a 100 TB dedup run;
#   one signature build, three cheap band self-joins.
# * ``events_user_churn_features`` — the per-user feature table a churn
#   model trains on: tenure, recency, frequency, monetary (exact µ),
#   active days, events-per-active-day.  One user-keyed aggregate.
# * ``events_power_law_fit_user_activity`` — the continuous-MLE
#   power-law exponent (Clauset-Shalizi-Newman 2009, eq. 3.1:
#   α = 1 + n / Σ ln(x_i / (x_min − ½))) over per-user event counts —
#   the heavy-tail check behind every skew-handling decision in this
#   repo.  ln per DISTINCT count value (rounded DECIMAL) × multiplicity
#   keeps the sum exact.
#
# Scale shapes: the LM and the tuning curve are wordcount/band-join
# shaped (the corpus-sized stage is tokenize/sign once); churn features
# and the power-law fit are one user-keyed aggregate each.
# ===========================================================================

# ---------------------------------------------------------------------------
# Reference-LM perplexity (CCNet-style)
# ---------------------------------------------------------------------------

_LM_REF_SOURCE = "src0"

_LM_PAIRS_SQL = f"""
  SELECT source,
         unnest(ws[1:len(ws)-1]) AS w1,
         unnest(ws[2:len(ws)]) AS w2
  FROM (
    SELECT source, string_split({sql_normalize_text('text')}, ' ') AS ws
    FROM documents
  )
"""

_LM_ORACLE = f"""
WITH pairs AS MATERIALIZED ({_LM_PAIRS_SQL}),
ptype AS (
  SELECT source, w1, w2, cast(count(*) AS BIGINT) AS m
  FROM pairs GROUP BY source, w1, w2
),
refp AS (
  SELECT w1, w2, cast(count(*) AS BIGINT) AS cb
  FROM pairs WHERE source = '{_LM_REF_SOURCE}' GROUP BY w1, w2
),
refu AS (
  SELECT w1, cast(count(*) AS BIGINT) AS cu
  FROM pairs WHERE source = '{_LM_REF_SOURCE}' GROUP BY w1
),
vocab AS (
  SELECT cast(count(DISTINCT w1) AS BIGINT) AS v
  FROM (SELECT w1 FROM pairs WHERE source = '{_LM_REF_SOURCE}'
        UNION SELECT w2 FROM pairs WHERE source = '{_LM_REF_SOURCE}')
),
scored AS (
  SELECT p.source, p.m,
         cast(round(ln((coalesce(r.cb, 0) + 1.0)
                       / (coalesce(u.cu, 0) + vocab.v)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM ptype p
  LEFT JOIN refp r ON r.w1 = p.w1 AND r.w2 = p.w2
  LEFT JOIN refu u ON u.w1 = p.w1
  CROSS JOIN vocab
)
SELECT source,
       cast(sum(m) AS BIGINT) AS n_pairs,
       round(-cast(sum(lp * m) AS DOUBLE) / cast(sum(m) AS DOUBLE), 6)
         AS cross_entropy,
       round(exp(round(-cast(sum(lp * m) AS DOUBLE)
                       / cast(sum(m) AS DOUBLE), 6)), 6) AS perplexity
FROM scored
GROUP BY source ORDER BY source
"""


@register(
    "text_lm_perplexity_vs_reference",
    _LM_ORACLE,
    tags=("llm", "text", "quality"),
)
def text_lm_perplexity_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram add-1 LM trained on the src0 slice; per-source perplexity.
    One tokenize pass feeds pair-TYPE counts (vocabulary², not corpus,
    sized), the model join runs on pair types, and each ln() rounds to
    DECIMAL(18,6) before the exact weighted sum — order-independent.
    Scale: wordcount-shaped shuffles; the model tables are vocab-bounded
    and broadcastable."""
    docs = spread(load(spark, sf_dir, "documents"))
    pairs = (
        docs.select("source", tokens(F.col("text")).alias("s"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(s) < 2 THEN cast(array() as array<struct<w1:string,w2:string>>) "
                    "ELSE transform(sequence(1, size(s) - 1), "
                    "i -> struct(s[i-1] AS w1, s[i] AS w2)) END"
                )
            ).alias("p"),
        )
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # one tokenize pass feeds FOUR consumers (ptype, refp, refu, vocab)
    pairs = materialize(pairs, "lm-pairs")

    ptype = pairs.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    ref = pairs.where(F.col("source") == _LM_REF_SOURCE)
    refp = ref.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    refu = ref.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    vocab = (
        ref.select(F.col("w1").alias("t"))
        .union(ref.select(F.col("w2").alias("t")))
        .agg(F.countDistinct("t").cast("long").alias("v"))
    )
    scored = (
        ptype.join(refp, ["w1", "w2"], "left")
        .join(refu, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "m",
            F.round(
                F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    h = F.round(
        -F.sum(F.col("lp") * F.col("m")).cast("double")
        / F.sum("m").cast("double"),
        6,
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("m").cast("long").alias("n_pairs"),
            h.alias("cross_entropy"),
        )
        .select(
            "source",
            "n_pairs",
            "cross_entropy",
            F.round(F.exp(F.col("cross_entropy")), 6).alias("perplexity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# LSH band tuning curve
# ---------------------------------------------------------------------------

_BT_CONFIGS = ((16, 1), (8, 2), (4, 4))  # (bands, rows) with b·r = 16
_BT_EST_GE = 8  # matching permutations for est_jaccard >= 0.5

_BT_EQ_SUM = " + ".join(
    f"CASE WHEN sa.mh{i:02d} = sb.mh{i:02d} THEN 1 ELSE 0 END"
    for i in range(S.MINHASH_K)
)


def _bt_band_sql(b: int, r: int) -> str:
    exprs = []
    for j in range(b):
        members = " || ',' || ".join(
            f"cast(mh{i:02d} as varchar)" for i in range(j * r, (j + 1) * r)
        )
        exprs.append(f"SELECT doc_id, {j} AS band_idx, md5({members}) AS bh FROM sig")
    return " UNION ALL ".join(exprs)


def _bt_oracle() -> str:
    blocks = []
    for b, r in _BT_CONFIGS:
        blocks.append(
            f"""(
  WITH bands AS ({_bt_band_sql(b, r)}),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b
    FROM bands a JOIN bands bb
      ON a.band_idx = bb.band_idx AND a.bh = bb.bh AND a.doc_id < bb.doc_id
  ), est AS (
    SELECT ({_BT_EQ_SUM}) AS eq
    FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
  )
  SELECT {b} AS bands, {r} AS rows_per_band,
         cast(count(*) AS BIGINT) AS n_candidates,
         cast(sum(CASE WHEN eq >= {_BT_EST_GE} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_est_ge_50,
         CASE WHEN count(*) > 0
              THEN cast(sum(CASE WHEN eq >= {_BT_EST_GE} THEN 1 ELSE 0 END)
                        * 1000000 // count(*) AS BIGINT) END AS precision_ppm
  FROM est
)"""
        )
    body = " UNION ALL ".join(blocks)
    return f"""
WITH hs AS MATERIALIZED (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS MATERIALIZED (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
)
SELECT * FROM ({body}) ORDER BY bands DESC
"""


@register(
    "docs_minhash_band_tuning_curve",
    _bt_oracle(),
    tags=("llm", "dedup", "lsh", "audit"),
    # bench-tagged (VERDICT r9 #8): 34.2 s/10x makes this the heaviest
    # catalog entry not previously in bench.py.
    bench=True,
)
def docs_minhash_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One signature build, three band layouts, one S-curve table.
    Scale: each config's candidate generation is a (band, hash)
    equi-join exactly like the production LSH path — the curve costs
    three candidate passes over the SAME persisted signatures, never a
    re-shingle."""
    docs = spread(load(spark, sf_dir, "documents"))
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
    sig = materialize(
        hs.select("doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig")),
        "bt-signatures",
    )
    out = None
    for b, r in _BT_CONFIGS:
        band_cols = []
        for j in range(b):
            parts: list = []
            for i in range(j * r, (j + 1) * r):
                if parts:
                    parts.append(F.lit(","))
                parts.append(F.col("sig")[i].cast("string"))
            band_cols.append(F.md5(F.concat(*parts)))
        bands = sig.select(
            "doc_id", "sig", F.posexplode(F.array(*band_cols)).alias("band_idx", "bh")
        )
        a, bb = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                bb,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        eq = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda t: t,
            )
        )
        row = cand.select(eq.alias("eq")).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("eq") >= _BT_EST_GE, 1).otherwise(0))
            .cast("long")
            .alias("n_est_ge_50"),
        ).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "n_candidates",
            "n_est_ge_50",
            F.when(
                F.col("n_candidates") > 0,
                (F.col("n_est_ge_50") * 1_000_000 / F.col("n_candidates")).cast(
                    "long"
                ),
            ).alias("precision_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.desc("bands"))


# ---------------------------------------------------------------------------
# Churn-model feature table
# ---------------------------------------------------------------------------

_CHURN_ORACLE = """
WITH g AS (
  SELECT max(CAST(ts AS DATE)) AS gmax FROM events
),
per_user AS (
  SELECT user_id,
         min(CAST(ts AS DATE)) AS first_day,
         max(CAST(ts AS DATE)) AS last_day,
         cast(count(*) AS BIGINT) AS n_events,
         cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases,
         cast(sum(CASE WHEN event_type = 'purchase'
                       THEN cast(round(value * 1000000) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS monetary_micro,
         cast(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
  FROM events GROUP BY user_id
)
SELECT user_id,
       cast(last_day - first_day AS BIGINT) AS tenure_days,
       cast(g.gmax - last_day AS BIGINT) AS recency_days,
       n_events, n_purchases, monetary_micro, active_days,
       cast(n_events * 1000000 // active_days AS BIGINT)
         AS events_per_active_day_ppm
FROM per_user CROSS JOIN g
ORDER BY user_id
"""


@register(
    "events_user_churn_features",
    _CHURN_ORACLE,
    tags=("events", "features", "ml"),
)
def events_user_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM-style churn features, one user-keyed aggregate (map-side
    combined); the global max day is a 1-row broadcast."""
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    g = ev.agg(F.max("day").alias("gmax"))
    pv = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 1_000_000).cast("long"),
    ).otherwise(F.lit(0))
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.sum(pv).cast("long").alias("monetary_micro"),
        F.countDistinct("day").cast("long").alias("active_days"),
    )
    return (
        per_user.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            F.datediff("last_day", "first_day").cast("long").alias("tenure_days"),
            F.datediff("gmax", "last_day").cast("long").alias("recency_days"),
            "n_events",
            "n_purchases",
            "monetary_micro",
            "active_days",
            # exact integer div — event-count numerators can cross 2^53 at
            # corpus scale, where double / + cast would silently round.
            F.expr("(n_events * CAST(1000000 AS BIGINT)) div active_days")
            .cast("long")
            .alias("events_per_active_day_ppm"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Power-law exponent (continuous MLE) over user activity
# ---------------------------------------------------------------------------

_PL_XMIN = 5

_PL_ORACLE = f"""
WITH act AS (
  SELECT user_id, cast(count(*) AS BIGINT) AS x
  FROM events GROUP BY user_id
),
tailc AS (
  SELECT x, cast(count(*) AS BIGINT) AS k
  FROM act WHERE x >= {_PL_XMIN} GROUP BY x
),
terms AS (
  SELECT k,
         cast(round(ln(cast(x AS DOUBLE) / {_PL_XMIN - 0.5}), 6)
              AS DECIMAL(18,6)) AS lx
  FROM tailc
),
agg AS (
  SELECT cast(sum(k) AS BIGINT) AS n_tail,
         sum(lx * k) AS s
  FROM terms
)
SELECT {_PL_XMIN} AS x_min,
       (SELECT cast(count(*) AS BIGINT) FROM act) AS n_users,
       n_tail,
       round(1.0 + cast(n_tail AS DOUBLE) / cast(s AS DOUBLE), 6) AS alpha
FROM agg
"""


@register(
    "events_power_law_fit_user_activity",
    _PL_ORACLE,
    tags=("events", "stats", "skew"),
)
def events_power_law_fit_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α = 1 + n/Σ ln(x_i/(x_min−½)) over per-user event counts
    (Clauset-Shalizi-Newman).  ln per DISTINCT count value rounds to
    DECIMAL(18,6) before the multiplicity-weighted exact sum.  Scale:
    one user-keyed count, then a distinct-count-value (≤ max activity)
    frame."""
    ev = load(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    n_users = act.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    tailc = (
        act.where(F.col("x") >= _PL_XMIN)
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    terms = tailc.select(
        "k",
        F.round(F.log(F.col("x").cast("double") / F.lit(_PL_XMIN - 0.5)), 6)
        .cast("decimal(18,6)")
        .alias("lx"),
    )
    agg = terms.agg(
        F.sum("k").cast("long").alias("n_tail"),
        F.sum(F.col("lx") * F.col("k")).alias("s"),
    )
    return agg.crossJoin(F.broadcast(n_users)).select(
        F.lit(_PL_XMIN).alias("x_min"),
        "n_users",
        "n_tail",
        F.round(
            1.0 + F.col("n_tail").cast("double") / F.col("s").cast("double"), 6
        ).alias("alpha"),
    )


# ===========================================================================
# Embedding audits, IVF: the IVF nprobe tuning curve and per-label
# centroid-distance outliers.
#
# * ``emb_ivf_recall_vs_nprobe`` — recall@5 of the IVF two-stage ANN
#   (``emb_ivf_two_stage_ann`` above) against the exact
#   brute-force top-5, swept over nprobe ∈ {1, 2, 3, 5}: the table an
#   operator reads to pick nprobe, exactly as
#   ``docs_minhash_band_tuning_curve`` does for (bands, rows).  The
#   shipped query's nprobe=3 point sits ON this curve — publishing the
#   curve is what justifies the setting.
# * ``emb_label_centroid_outliers`` — per label cell: vectors whose
#   squared distance to their own cell centroid exceeds 2× the cell
#   mean (exact integer gate on µ-scaled distances).  The embedding
#   data-quality audit: mislabeled/corrupt vectors surface as outliers,
#   and cells with heavy tails are the ones IVF probes mis-serve.
#
# 100 TB shape: both queries broadcast the K-row centroid table and scan
# the corpus once; the nprobe sweep bounds candidates by (max nprobe /
# n_cells) of the corpus per query and ranks with ``topk_per_group``
# (operators/ranks.py — a map-side group limit, never one task per
# query id); the outlier audit
# is two label-keyed aggregates over one distance pass (the per-label
# mean joins back label-keyed, label-bounded).
#
# Reference parity note: the reference engine has no vector surface
# (SURVEY §2); these extend the ANN audits above.
# ===========================================================================

_NPROBES = (1, 2, 3, 5)
_TOPK = 5
_NQ = 10  # query vectors: vec_id < 10 (the brute-force baseline's set)

# cosine / centroid SQL fragments — phrased EXACTLY like the IVF oracle in
# ``emb_ivf_two_stage_ann`` so both queries share one cross-engine definition
_SQL_CENT = """
  SELECT label, list(c ORDER BY dim) AS centroid FROM (
    SELECT label, d AS dim,
           cast(round(cast(sum(cast(embedding[d + 1] as decimal(30,10))) as double)
                      / count(*), 6) as double) AS c
    FROM embeddings, range(64) t(d)
    GROUP BY label, d
  ) GROUP BY label
"""


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) /"
        f" (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) *"
        f"  sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
    )


_NPROBE_ORACLE = f"""
WITH cent AS MATERIALIZED ({_SQL_CENT}),
q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {_NQ}
), scored AS MATERIALIZED (
  SELECT qid, label,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY {_cos_sql('q.qv', 'cent.centroid')} DESC, cent.label
         ) AS cell_rank
  FROM q, cent
), cand AS MATERIALIZED (
  SELECT s.qid, e.vec_id AS nid, s.cell_rank,
         {_cos_sql('q.qv', 'e.embedding')} AS cos_sim
  FROM scored s
  JOIN q USING (qid)
  JOIN embeddings e ON e.label = s.label AND e.vec_id <> s.qid
  WHERE s.cell_rank <= {max(_NPROBES)}
), ann AS MATERIALIZED (
  SELECT np, qid, nid FROM (
    SELECT t.np, c.qid, c.nid,
           row_number() OVER (PARTITION BY t.np, c.qid
                              ORDER BY c.cos_sim DESC, c.nid) AS rn
    FROM cand c JOIN (VALUES {", ".join(f"({p})" for p in _NPROBES)}) t(np)
                  ON c.cell_rank <= t.np
  ) WHERE rn <= {_TOPK}
), bf AS MATERIALIZED (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_cos_sql('a.embedding', 'b.embedding')} DESC,
                                       b.vec_id) AS rn
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < {_NQ} AND b.vec_id <> a.vec_id
  ) WHERE rn <= {_TOPK}
), nq AS (SELECT cast(count(*) AS BIGINT) AS n_q FROM q)
SELECT cast(t.np AS BIGINT) AS nprobe,
       cast(coalesce(h.hits, 0) AS BIGINT) AS total_hits,
       cast(coalesce(h.hits, 0) * 1000000 // ({_TOPK} * nq.n_q) AS BIGINT)
         AS recall_ppm
FROM (VALUES {", ".join(f"({p})" for p in _NPROBES)}) t(np)
LEFT JOIN (
  SELECT ann.np, cast(count(*) AS BIGINT) AS hits
  FROM ann JOIN bf ON bf.qid = ann.qid AND bf.nid = ann.nid
  GROUP BY ann.np
) h ON h.np = t.np
CROSS JOIN nq
ORDER BY nprobe
"""


@register(
    "emb_ivf_recall_vs_nprobe",
    _NPROBE_ORACLE,
    tags=("llm", "ann", "ivf", "tuning", "audit"),
    bench=True,
)
def emb_ivf_recall_vs_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF search vs exact brute force, per nprobe.

    Scale design: centroids broadcast (K rows); ONE candidate pass at
    the LARGEST nprobe carries each candidate's cell_rank, so the
    sweep is a bounded ≤|_NPROBES|× fanout of the already-cell-bounded
    candidate table, not |_NPROBES| corpus scans; both rankings use
    ``topk_per_group`` (a map-side limit below each group shuffle).  The
    brute-force leg is the audit's cost ceiling by definition (it IS the
    baseline being scored against).  The per-nprobe readout is
    |_NPROBES| rows: ``hits`` (at most one row per nprobe) is broadcast
    into the one-partition nprobe frame, so the readout adds no shuffle
    and its ORDER BY needs no range exchange.
    """

    emb = load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(emb)
    q = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "label",
        F.round(cosine("qv", "centroid"), 6).alias("csim"),
    )
    ranked_cells = topk_per_group(
        scored, "qid", [F.desc("csim"), F.asc("label")], max(_NPROBES),
        rn_col="cell_rank",
    ).select("qid", "label", "cell_rank")
    p = ranked_cells.join(F.broadcast(q), "qid").alias("p")
    e = emb.alias("e")
    cand = p.join(
        e,
        (F.col("e.label") == F.col("p.label"))
        & (F.col("e.vec_id") != F.col("p.qid")),
    ).select(
        F.col("p.qid").alias("qid"),
        F.col("e.vec_id").alias("nid"),
        F.col("p.cell_rank").alias("cell_rank"),
        F.round(cosine("p.qv", "e.embedding"), 6).alias("cos_sim"),
    )
    nps = F.explode(
        F.array(*[F.lit(p_).cast("long") for p_ in _NPROBES])
    ).alias("np")
    fanned = cand.select("*", nps).where(F.col("cell_rank") <= F.col("np"))
    keyed = fanned.withColumn("gk", F.concat_ws("|", "np", "qid"))
    ann = topk_per_group(
        keyed, "gk", [F.desc("cos_sim"), F.asc("nid")], _TOPK, rn_col="rn"
    ).select("np", "qid", "nid")
    bf = emb_cosine_topk_bruteforce(spark, sf_dir).select(
        F.col("qid").alias("b_qid"), F.col("neighbor_id").alias("b_nid")
    )
    hits = (
        ann.join(
            bf,
            (F.col("qid") == F.col("b_qid")) & (F.col("nid") == F.col("b_nid")),
        )
        .groupBy("np")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_q")).coalesce(1)
    npframe = local_frame(
        spark, [(int(p_),) for p_ in _NPROBES], "np long"
    ).coalesce(1)
    return (
        npframe.join(F.broadcast(hits), "np", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("np").alias("nprobe"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("total_hits"),
            F.expr(
                f"(coalesce(hits, 0) * CAST(1000000 AS BIGINT))"
                f" div ({_TOPK} * n_q)"
            )
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# Per-label centroid-distance outliers.
# ---------------------------------------------------------------------------

_OUTLIER_ORACLE = f"""
WITH cent AS MATERIALIZED ({_SQL_CENT}),
d2 AS MATERIALIZED (
  SELECT e.label,
         cast(round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.embedding[i]::DOUBLE - cent.centroid[i])
                     * (e.embedding[i]::DOUBLE - cent.centroid[i])))
              * 1000000) AS BIGINT) AS d2_fp
  FROM embeddings e JOIN cent USING (label)
), stats AS (
  SELECT label, cast(count(*) AS BIGINT) AS n_vecs,
         cast(sum(d2_fp) // count(*) AS BIGINT) AS mean_d2_fp,
         cast(max(d2_fp) AS BIGINT) AS max_d2_fp
  FROM d2 GROUP BY label
)
SELECT s.label AS label, s.n_vecs, s.mean_d2_fp, s.max_d2_fp,
       cast(count(*) FILTER (WHERE d.d2_fp > 2 * s.mean_d2_fp) AS BIGINT)
         AS n_outliers
FROM d2 d JOIN stats s USING (label)
GROUP BY s.label, s.n_vecs, s.mean_d2_fp, s.max_d2_fp
ORDER BY label
"""


@register(
    "emb_label_centroid_outliers",
    _OUTLIER_ORACLE,
    tags=("llm", "embeddings", "quality", "audit"),
)
def emb_label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors farther than 2× their cell's mean squared centroid
    distance, per label.

    Scale design: one corpus pass computes µ-scaled integer distances
    against the BROADCAST centroid table; the mean joins back
    label-keyed (label-bounded small side), so the outlier gate is a
    second pass over the same keyed aggregate — no window, no
    all-pairs.  The 2× integer gate (d2_fp > 2 * (sum div n)) is exact
    on both engines.
    """

    emb = load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(emb)
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("centroid"),
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    d2 = emb.join(F.broadcast(cent), "label").select(
        "label",
        F.round(
            F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x) * 1_000_000
        )
        .cast("long")
        .alias("d2_fp"),
    )
    stats = d2.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("sum(d2_fp) div count(*)").cast("long").alias("mean_d2_fp"),
        F.max("d2_fp").cast("long").alias("max_d2_fp"),
    )
    return (
        d2.join(stats, "label")
        .groupBy("label", "n_vecs", "mean_d2_fp", "max_d2_fp")
        .agg(
            F.sum(
                F.when(F.col("d2_fp") > 2 * F.col("mean_d2_fp"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# kNN hubness audit (Radovanović et al. 2010): in high dimensions a few
# "hub" points appear in a disproportionate share of other points'
# nearest-neighbor lists, silently dominating retrieval and dedup.
# k-occurrence N_k(x) = how many other vectors list x in their IVF top-3;
# the histogram's right tail is the pathology readout.
# ---------------------------------------------------------------------------

_HUB_K = 3
_HUB_CAP = 10  # histogram cap: occurrences >= cap collapse into one bucket
# Query-side sample target: the audit estimates the k-occurrence
# distribution from a DETERMINISTIC fixed-size query sample
# (vec_id % step == 0, step = greatest(1, n // _HUB_Q)), so the
# candidate volume is _HUB_Q x cell_size — linear in the corpus —
# instead of n x cell_size (quadratic, ~n^2/K with K fixed cells).
# At sf0.01 (500 vectors) step = 1, i.e. the sample IS the corpus and
# the result is identical to the exhaustive audit.
_HUB_Q = 2000

_HUB_ORACLE = f"""
WITH cent AS MATERIALIZED ({_SQL_CENT}),
qstep AS MATERIALIZED (
  SELECT greatest(1, count(*) // {_HUB_Q}) AS s FROM embeddings
),
home AS MATERIALIZED (
  SELECT qid, label FROM (
    SELECT e.vec_id AS qid, cent.label,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'cent.centroid')} DESC, cent.label
           ) AS rn
    FROM embeddings e, cent
    WHERE e.vec_id % (SELECT s FROM qstep) = 0
  ) WHERE rn = 1
), knn AS MATERIALIZED (
  SELECT qid, nid FROM (
    SELECT h.qid, e2.vec_id AS nid,
           row_number() OVER (
             PARTITION BY h.qid
             ORDER BY {_cos_sql('q.embedding', 'e2.embedding')} DESC, e2.vec_id
           ) AS rn
    FROM home h
    JOIN embeddings q ON q.vec_id = h.qid
    JOIN embeddings e2 ON e2.label = h.label AND e2.vec_id <> h.qid
  ) WHERE rn <= {_HUB_K}
), occ AS (
  SELECT e.vec_id,
         cast(coalesce(k.n, 0) AS BIGINT) AS n_occ
  FROM embeddings e
  LEFT JOIN (SELECT nid, cast(count(*) AS BIGINT) AS n FROM knn GROUP BY nid) k
    ON k.nid = e.vec_id
)
SELECT cast(least(n_occ, {_HUB_CAP}) AS BIGINT) AS k_occurrences,
       cast(count(*) AS BIGINT) AS n_vectors
FROM occ
GROUP BY least(n_occ, {_HUB_CAP})
ORDER BY k_occurrences
"""


@register(
    "emb_knn_hubness_audit",
    _HUB_ORACLE,
    tags=("llm", "ann", "quality", "audit"),
)
def emb_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence histogram of the IVF-bounded 3-NN graph, estimated
    from a deterministic fixed-size query sample.

    Scale design: with K fixed cells, making EVERY vector a query is
    quadratic (n queries x n/K candidates each ~ n^2/K cosines — the
    salt join only spreads that work, it doesn't shrink it).  The
    audit therefore samples the QUERY side to a fixed target size:
    queries are vectors with vec_id % step == 0 where
    step = greatest(1, n // _HUB_Q), derived declaratively from one
    1-row aggregate (no driver-side count), so candidates =
    _HUB_Q x cell_size — linear in the corpus.  k-occurrence is a
    sample estimate of N_k(x) (standard for hubness audits: skew of
    the N_k distribution, not exact per-vector counts, is the
    readout); at sf0.01 step = 1 and the audit is exhaustive.  Each
    sampled query probes only its nearest centroid's cell, rankings
    via two-stage top-k, and the k-occurrence count is one keyed
    aggregate over the (_HUB_Q x k) edge list.  Output is a
    cap-bounded histogram (<= _HUB_CAP + 1 rows).
    """
    from event_streaming_spark.functions.numeric import dot, l2_norm

    emb = load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(emb)
    # Deterministic query sample: step is ONE broadcast scalar row
    # computed inside the plan (count div target), so the sample stays
    # declarative and reproducible — no driver-side .count().
    qstep = emb.agg(
        F.greatest(F.lit(1).cast("long"), F.expr(f"count(1) div {_HUB_Q}"))
        .alias("qstep")
    )
    q_side = (
        emb.crossJoin(F.broadcast(qstep))
        .where(F.pmod(F.col("vec_id"), F.col("qstep")) == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    # Per-vector norms are computed ONCE, inline, BEFORE the salt
    # explode and the join: the pairwise cosine then costs one zip-fold
    # (the dot) instead of three — higher-order-function folds never
    # enter whole-stage codegen, so on a multi-million-candidate audit
    # the two redundant norm folds were ~2/3 of the stage (measured at
    # 10x).  l2_norm here is the SAME fold as inside cosine(), so the
    # doubles (and the hash gate) are bit-identical.
    scored = q_side.crossJoin(F.broadcast(cent.withColumnRenamed("label", "clabel"))).select(
        "qid",
        "qv",
        "clabel",
        F.round(cosine("qv", "centroid"), 6).alias("csim"),
    )
    home = topk_per_group(
        scored, "qid", [F.desc("csim"), F.asc("clabel")], 1, rn_col="rn"
    ).select("qid", "qv", F.col("clabel").alias("label"))
    # The query side is now a BOUNDED sample (<= ~_HUB_Q rows), so the
    # scale-correct join is to BROADCAST the queries and stream the
    # corpus exactly once: no shuffle of the big side at all, and the
    # cosine work parallelizes with the corpus scan itself (spread()
    # buys that parallelism on the single-row-group fixtures; a real
    # deployment gets it from file splits).  This replaces the r10
    # label+salt shuffle join — salting was only needed when BOTH
    # sides were corpus-sized; left to itself here Spark inverted the
    # build side and broadcast the salted CORPUS (160+ MB at 10x,
    # OOM-bound at 100x).  The candidate set is unchanged (same
    # label-cell membership, minus self), so the result is
    # byte-identical.
    e_s = spread(emb).select(
        "vec_id",
        "label",
        "embedding",
        l2_norm("embedding").alias("e_nrm"),
    ).alias("e")
    h_s = home.select(
        "qid", "qv", "label", l2_norm("qv").alias("q_nrm")
    ).alias("h")
    cand = e_s.join(
        F.broadcast(h_s),
        (F.col("e.label") == F.col("h.label"))
        & (F.col("e.vec_id") != F.col("h.qid")),
    ).select(
        F.col("h.qid").alias("qid"),
        F.col("e.vec_id").alias("nid"),
        F.round(
            dot("h.qv", "e.embedding")
            / (F.col("h.q_nrm") * F.col("e.e_nrm")),
            6,
        ).alias("cos_sim"),
    )
    knn = topk_per_group(
        cand, "qid", [F.desc("cos_sim"), F.asc("nid")], _HUB_K, rn_col="rn"
    ).select("qid", "nid")
    occ_counts = knn.groupBy("nid").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    occ = emb.select("vec_id").join(
        occ_counts.withColumnRenamed("nid", "vec_id"), "vec_id", "left"
    ).select(F.coalesce("n", F.lit(0)).cast("long").alias("n_occ"))
    return (
        occ.groupBy(
            F.least(F.col("n_occ"), F.lit(_HUB_CAP))
            .cast("long")
            .alias("k_occurrences")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("k_occurrences")
    )


# ---------------------------------------------------------------------------
# PQ distortion vs subspace count — the third tuning curve of the ANN
# family (bands x rows for MinHash LSH, nprobe for IVF, m for PQ):
# quantization error against the code length the engine would store.
# Same deterministic construction as emb_pq_encode (plans/curation.py):
# mu-scaled integer vectors, codebook = the first 8 vectors, exact
# integer L2 per subspace — only the subspace count m sweeps.
# ---------------------------------------------------------------------------

_PQD_MS = (2, 4, 8, 16)
_PQD_K = 8       # codebook entries (seeds: vec_id < 8), fixed across the sweep
_PQD_DIM = 64
_PQD_SCALE = 1000  # the _KM_SCALE quantization used by the PQ family


def _pqd_oracle() -> str:
    blocks = []
    for m in _PQD_MS:
        dsub = _PQD_DIM // m
        blocks.append(f"""
  SELECT cast({m} AS BIGINT) AS m, cast({dsub} AS BIGINT) AS dsub,
         cast(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
         cast(sum(dist) AS BIGINT) AS total_err,
         cast(sum(dist) // count(DISTINCT vec_id) AS BIGINT) AS err_per_vec
  FROM (
    SELECT vec_id, s, dist FROM (
      SELECT d.vec_id, d.s, d.dist,
             row_number() OVER (PARTITION BY d.vec_id, d.s
                                ORDER BY d.dist, d.seed) AS rn
      FROM (SELECT e.vec_id, cb.seed, (e.pos - 1)//{dsub} AS s,
                   sum((e.v - cb.cv)*(e.v - cb.cv)) AS dist
            FROM e JOIN cb ON e.pos = cb.pos GROUP BY 1, 2, 3) d
    ) WHERE rn = 1
  )""")
    union = "\n  UNION ALL\n".join(blocks)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
             x -> cast(floor(cast(x as double)*{_PQD_SCALE} + 0.5) as bigint)) AS q
  FROM embeddings
),
e AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, {_PQD_DIM + 1})) AS pos, unnest(q) AS v FROM q
),
cb AS MATERIALIZED (
  SELECT vec_id AS seed, pos, v AS cv FROM e WHERE vec_id < {_PQD_K}
)
SELECT * FROM ({union})
ORDER BY m
"""


@register(
    "emb_pq_distortion_vs_m",
    _pqd_oracle(),
    tags=("llm", "ann", "quantization", "tuning"),
)
def emb_pq_distortion_vs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total/per-vector PQ quantization error per subspace count m.

    Scale design: the codebook broadcasts (8 rows); per-m subspace
    distances are zip_with/aggregate folds over slices inside codegen
    (the corpus never shuffles to score); each m contributes one
    (vec, s) argmin with map-side combine and ONE-row rollup, and the
    four m-values union at the 4-row frame — the sweep never re-reads
    the parquet (one shared quantized scan feeds all four branches).
    """
    from event_streaming_spark.operators.materialize import materialize

    emb = load(spark, sf_dir, "embeddings")
    qdf = materialize(
        emb.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _PQD_SCALE + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("q"),
        ),
        name="pqd-quantized",
    )
    codebook = qdf.filter(F.col("vec_id") < _PQD_K).select(
        F.col("vec_id").cast("int").alias("seed"), F.col("q").alias("c")
    )
    def _sub_dist(dsub):
        # closure, NOT a default arg: F.transform reads the callback's
        # arity from its signature, and a second parameter (even
        # defaulted) makes it pass (element, INDEX) — the index would
        # silently clobber dsub (the graph.py _permute lesson).
        def sub(s):
            a = F.slice(F.col("q"), s * dsub + 1, dsub)
            b = F.slice(F.col("c"), s * dsub + 1, dsub)
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        return sub

    outs = []
    for m in _PQD_MS:
        dsub = _PQD_DIM // m
        subd = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _sub_dist(dsub))
        scored = qdf.crossJoin(F.broadcast(codebook)).select(
            "vec_id", "seed", F.posexplode(subd).alias("s", "dist")
        )
        best = scored.groupBy("vec_id", "s").agg(
            F.min(F.struct("dist", "seed")).alias("mn")
        )
        outs.append(
            best.agg(
                F.lit(m).cast("long").alias("m"),
                F.lit(dsub).cast("long").alias("dsub"),
                F.countDistinct("vec_id").cast("long").alias("n_vecs"),
                F.sum("mn.dist").cast("long").alias("total_err"),
                F.expr("sum(mn.dist) div count(DISTINCT vec_id)")
                .cast("long")
                .alias("err_per_vec"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("m")


# ===========================================================================
# Embedding audits, OOD: diagonal-Mahalanobis OOD detection.
#
# * ``emb_ood_mahalanobis_diag`` — per-label out-of-distribution audit
#   under a diagonal-covariance Gaussian fit (Lee et al. 2018's
#   Mahalanobis OOD detector, diagonal variant): each dimension's mean
#   and variance are fit per label from exact integer/decimal moments,
#   each vector's variance-normalized squared distance
#   d² = Σ_dim (x−μ)²/(σ²+ε) accumulates as 6dp fixed-point terms (the
#   per-dim rounding makes the 64-term sum order-free), and the report
#   flags vectors with d² above 2x the label mean — the
#   variance-aware upgrade of ``emb_label_centroid_outliers``'s raw
#   euclidean screen (a tight cluster with one loose dimension stops
#   masking outliers in the tight dimensions).
#
# 100 TB shape: one posexplode pass (64x row fanout of skinny rows) →
# a (label x dim)-keyed wordcount aggregate (640 groups, map-side
# combined) → the 640-row stats table BROADCASTS back onto the same
# exploded stream → per-vector reduce.  The corpus shuffles once, keyed
# by (vec_id) at reduce width; everything else is broadcast-sized.
#
# Reference parity note: the reference engine has no vector surface
# (SURVEY §2); extends the embedding audits above.
# ===========================================================================

_OOD_EPS = 1e-9  # variance floor: keeps a constant dimension finite

_OOD_ORACLE = f"""
WITH x AS MATERIALIZED (
  SELECT vec_id, label, d AS dim,
         cast(round(cast(embedding[d + 1] AS DOUBLE) * 1e6) AS BIGINT) AS x6
  FROM embeddings, range(64) t(d)
), st AS MATERIALIZED (
  SELECT label, dim, cast(count(*) AS BIGINT) AS n,
         cast(sum(x6) AS BIGINT) AS s1,
         sum(cast(x6 AS DECIMAL(19,0)) * cast(x6 AS DECIMAL(19,0))) AS s2
  FROM x GROUP BY label, dim
), mu AS (
  SELECT label, dim,
         (cast(s1 AS DOUBLE) / 1e6) / n AS mu,
         (cast(s2 AS DOUBLE) / 1e12
          - (cast(s1 AS DOUBLE) / 1e6) * (cast(s1 AS DOUBLE) / 1e6) / n)
           / (n - 1) AS var
  FROM st
), md AS MATERIALIZED (
  SELECT vec_id, label, cast(sum(t_fp) AS BIGINT) AS md2_fp6
  FROM (
    SELECT x.vec_id, x.label,
           cast(round(((cast(x.x6 AS DOUBLE) / 1e6 - mu.mu)
                       * (cast(x.x6 AS DOUBLE) / 1e6 - mu.mu)
                       / (mu.var + {_OOD_EPS!r})) * 1e6) AS BIGINT) AS t_fp
    FROM x JOIN mu ON mu.label = x.label AND mu.dim = x.dim
  ) GROUP BY vec_id, label
), lab AS (
  SELECT label, cast(count(*) AS BIGINT) AS n_vecs,
         cast(sum(md2_fp6) // count(*) AS BIGINT) AS mean_md2_fp6,
         cast(max(md2_fp6) AS BIGINT) AS max_md2_fp6
  FROM md GROUP BY label
)
SELECT l.label, l.n_vecs, l.mean_md2_fp6, l.max_md2_fp6,
       cast(sum(CASE WHEN m.md2_fp6 > 2 * l.mean_md2_fp6
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ood
FROM md m JOIN lab l ON l.label = m.label
GROUP BY l.label, l.n_vecs, l.mean_md2_fp6, l.max_md2_fp6
ORDER BY l.label
"""


@register(
    "emb_ood_mahalanobis_diag",
    _OOD_ORACLE,
    tags=("llm", "quality", "audit", "ann"),
)
def emb_ood_mahalanobis_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label diagonal-Mahalanobis OOD counts.

    Scale design: the per-(label, dim) moment table is 640 rows —
    it broadcasts back onto the exploded vector stream, so the corpus
    is scanned twice as narrow rows and shuffled once (the per-vector
    reduce).  Moments use the z-test DECIMAL discipline (Σx6² passes
    int64 at ~1e5 µ-scaled rows); per-dim terms round to 6dp fixed
    point BEFORE the 64-term sum so d² is an exact integer on both
    engines; the 2x-mean flag is pure int64.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "vec_id",
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("xf").cast("double") * 1e6).cast("long").alias("x6"),
    )
    x6d = F.col("x6").cast("decimal(19,0)")
    st = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x6").cast("long").alias("s1"),
        F.sum(x6d * x6d).alias("s2"),
    )
    mu = st.select(
        "label",
        "dim",
        ((F.col("s1").cast("double") / 1e6) / F.col("n")).alias("mu"),
        (
            (
                F.col("s2").cast("double") / 1e12
                - (F.col("s1").cast("double") / 1e6)
                * (F.col("s1").cast("double") / 1e6)
                / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    dev = F.col("x6").cast("double") / 1e6 - F.col("mu")
    t_fp = F.round(dev * dev / (F.col("var") + F.lit(_OOD_EPS)) * 1e6).cast(
        "long"
    )
    md = (
        x.join(F.broadcast(mu), ["label", "dim"])
        .select("vec_id", "label", t_fp.alias("t_fp"))
        .groupBy("vec_id", "label")
        .agg(F.sum("t_fp").cast("long").alias("md2_fp6"))
    )
    lab = md.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("sum(md2_fp6) div count(*)").cast("long").alias("mean_md2_fp6"),
        F.max("md2_fp6").cast("long").alias("max_md2_fp6"),
    )
    return (
        md.join(F.broadcast(lab), "label")
        .groupBy("label", "n_vecs", "mean_md2_fp6", "max_md2_fp6")
        .agg(
            F.sum(
                F.when(F.col("md2_fp6") > 2 * F.col("mean_md2_fp6"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_ood")
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Mutual-kNN graph reciprocity audit.
# ---------------------------------------------------------------------------

_REC_PANEL = 512  # deterministic panel size target (work = panel², constant)
_REC_K = 5
_REC_HUB_MULT = 2  # in-degree >= 2k -> hub (Radovanović 2010 convention)

_REC_ORACLE = f"""
WITH step AS (
  SELECT greatest(1, count(*) // {_REC_PANEL}) AS s FROM embeddings
), panel AS MATERIALIZED (
  SELECT vec_id, label, embedding FROM embeddings, step
  WHERE vec_id % step.s = 0
), edges AS MATERIALIZED (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) DESC, c.vec_id) AS rn
    FROM panel q JOIN panel c ON c.vec_id <> q.vec_id
  ) WHERE rn <= {_REC_K}
), pernode AS (
  SELECT e.qid,
         cast(count(*) AS BIGINT) AS n_out,
         cast(coalesce(sum(CASE WHEN r.qid IS NOT NULL THEN 1 END), 0) AS BIGINT)
           AS n_recip
  FROM edges e
  LEFT JOIN edges r ON r.qid = e.nid AND r.nid = e.qid
  GROUP BY e.qid
), indeg AS (
  SELECT nid, cast(count(*) AS BIGINT) AS deg FROM edges GROUP BY nid
)
SELECT p.label,
       cast(count(*) AS BIGINT) AS n_nodes,
       cast(sum(pn.n_out) AS BIGINT) AS n_edges,
       cast((2000000 * sum(pn.n_recip) + sum(pn.n_out))
            // (2 * sum(pn.n_out)) AS BIGINT) AS recip_ppm,
       cast(max(coalesce(i.deg, 0)) AS BIGINT) AS max_indegree,
       cast(coalesce(sum(CASE WHEN coalesce(i.deg, 0)
                               >= {_REC_HUB_MULT * _REC_K} THEN 1 END), 0)
            AS BIGINT) AS n_hubs
FROM panel p
JOIN pernode pn ON pn.qid = p.vec_id
LEFT JOIN indeg i ON i.nid = p.vec_id
GROUP BY p.label
ORDER BY p.label
"""


@register(
    "emb_knn_graph_reciprocity",
    _REC_ORACLE,
    tags=("llm", "ann", "graph", "audit"),
)
def emb_knn_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN reciprocity + in-degree audit over a deterministic panel.

    Low edge reciprocity and heavy in-degree hubs are the two standard
    predictors of ANN recall loss (Radovanović et al. 2010; the
    k-NN-graph quality literature) — this audit reads both per label.

    Scale design: the graph is built on a DETERMINISTIC fixed-size
    panel (vec_id % step == 0, step = greatest(1, n div _REC_PANEL)),
    so the exact all-pairs kNN costs panel² cosines — CONSTANT as the
    corpus grows, the same bounded-audit shape as the hubness query
    (``emb_knn_hubness_audit``).  The panel broadcasts to both sides of the
    pair join; everything after the top-k is panel·k-row frames.
    """
    from event_streaming_spark.functions.numeric import dot, l2_norm
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings")
    step = emb.agg(
        F.greatest(
            F.lit(1).cast("long"), F.expr(f"count(1) div {_REC_PANEL}")
        ).alias("s")
    )
    # norms compute ONCE per panel node before the panel² fanout: the
    # per-pair cosine is then one zip-fold (the dot) instead of three
    # (the r10 bruteforce/hubness lesson — HOF folds never enter
    # codegen, so fold count IS the cost model).  l2_norm is the same
    # fold as inside cosine(), so every double is unchanged.
    panel = (
        emb.crossJoin(F.broadcast(step))
        .where(F.col("vec_id") % F.col("s") == 0)
        .select(
            "vec_id", "label", "embedding",
            l2_norm("embedding").alias("nrm"),
        )
    )
    q = panel.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = panel.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            dot("qv", "embedding")
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("cos_sim"),
    )
    from event_streaming_spark.operators.materialize import materialize

    # edges feeds THREE consumers (forward list, reversed probe, in-degree)
    # — pin the panel·k-row frame once or the panel² cosine pass re-runs
    # per consumer.
    edges = materialize(
        topk_per_group(
            pairs, "qid", [F.desc("cos_sim"), F.asc("nid")], _REC_K, rn_col="rn"
        ).select("qid", "nid"),
        "knn-recip-edges",
    )
    rev = edges.select(
        F.col("qid").alias("r_qid"), F.col("nid").alias("r_nid")
    )
    pernode = (
        edges.join(
            rev,
            (F.col("r_qid") == F.col("nid")) & (F.col("r_nid") == F.col("qid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_out"),
            F.coalesce(
                F.sum(F.when(F.col("r_qid").isNotNull(), 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_recip"),
        )
    )
    indeg = edges.groupBy("nid").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return (
        panel.select("vec_id", "label")
        .join(pernode, F.col("qid") == F.col("vec_id"))
        .join(indeg, indeg["nid"] == F.col("vec_id"), "left")
        .select(
            "label",
            "n_out",
            "n_recip",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("n_out").cast("long").alias("n_edges"),
            F.expr(
                "(2000000 * sum(n_recip) + sum(n_out)) div (2 * sum(n_out))"
            )
            .cast("long")
            .alias("recip_ppm"),
            F.max("deg").cast("long").alias("max_indegree"),
            F.coalesce(
                F.sum(F.when(F.col("deg") >= _REC_HUB_MULT * _REC_K, 1)),
                F.lit(0),
            )
            .cast("long")
            .alias("n_hubs"),
        )
        .orderBy("label")
    )


# ===========================================================================
# Text ML: statistical text models — a trained multinomial
# Naive Bayes language classifier (train/holdout split, confusion-matrix
# output) and TextRank keyphrase extraction (PageRank over the token
# co-occurrence graph).  These add the "learned model over the corpus"
# capability class: everything before this point scores text with fixed
# heuristics; these two FIT parameters on one part of the data and apply
# them to another — the shape every training-data pipeline needs for
# quality classifiers and topic surfacing (reference scope: the C engine
# has no text analytics at all; this extends SURVEY §2.5's text-analysis
# mandate).
#
# Scale design notes:
#
# * NAIVE BAYES: training is two wordcount-shaped shuffles (per-class
#   token counts, per-class totals); the model is vocabulary-bounded and
#   the class list is tiny — both broadcast to the scoring side.  Scoring
#   is test-tokens × |classes| (a bounded multiplier, 5 here), one keyed
#   sum per (doc, class), one argmax window per doc.  No driver loop, no
#   iteration: NB is the one classical classifier whose fit IS a groupBy.
#   Determinism recipe: per-(token, class) log-weights are rounded to 6
#   decimals and cast DECIMAL(18,6) BEFORE summation, so the per-document
#   score is an exact decimal sum (order-independent) on both engines;
#   the ln() inputs are identical doubles derived from exact integers
#   (cnt+1)/(total_c+V) — the tfidf precedent.  Ties break by class name.
# * TEXTRANK: co-occurrence edges (window ≤ 2 over the ORIGINAL token
#   sequence, per the TextRank paper) are built with lead() over each
#   document's position order — one doc_id exchange and a linear window
#   pass, never a quadratic self-join; both endpoints must clear a global
#   frequency floor, so the graph is vocabulary-sized.  The rank loop is the
#   repo's exact-integer PageRank kernel (operators/graph.py) — int64
#   recurrence, 3 fixed rounds, oracle unrolled as chained CTEs.
#
# Reference parity: none (capability extension).  Citations for the
# algorithms: Mihalcea & Tarau, "TextRank" (EMNLP 2004); McCallum & Nigam,
# "A Comparison of Event Models for Naive Bayes Text Classification"
# (AAAI-98 workshop) — public papers.
# ===========================================================================

# ---------------------------------------------------------------------------
# Multinomial NB with Laplace smoothing: train on even doc_ids, classify
# the odd holdout, emit the confusion matrix.  OOV holdout tokens (not in
# the train vocabulary) are skipped — the standard convention.  Unseen
# (token, class) pairs take the class smoothing floor ln(1/(total_c+V)).
# ---------------------------------------------------------------------------

_NB_TOK = (
    "SELECT doc_id, lang, t AS tok FROM ("
    "  SELECT doc_id, lang,"
    f"         unnest(string_split({sql_normalize_text('text')}, ' ')) AS t"
    "  FROM documents) WHERE t <> ''"
)

_NB_ORACLE = f"""
WITH tok AS ({_NB_TOK}),
train_tok AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
test_tok  AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
cls AS (
  SELECT lang, count(DISTINCT doc_id) AS n_docs
  FROM train_tok GROUP BY lang
), n AS (SELECT sum(n_docs) AS n_train FROM cls),
v AS (SELECT count(DISTINCT tok) AS vocab FROM train_tok),
totals AS (
  SELECT lang, count(*) AS total_c FROM train_tok GROUP BY lang
), w AS (
  SELECT lang, tok,
         CAST(round(ln(CAST(count(*) + 1 AS double) / (total_c + vocab)), 6)
              AS DECIMAL(18,6)) AS w
  FROM train_tok JOIN totals USING (lang), v
  GROUP BY lang, tok, total_c, vocab
), w0 AS (
  SELECT lang,
         CAST(round(ln(1.0 / (total_c + vocab)), 6) AS DECIMAL(18,6)) AS w0
  FROM totals, v
), prior AS (
  SELECT lang,
         CAST(round(ln(CAST(n_docs AS double) / n_train), 6)
              AS DECIMAL(18,6)) AS prior
  FROM cls, n
), vocab_set AS (SELECT DISTINCT tok FROM train_tok),
test_tf AS (
  SELECT t.doc_id, t.tok, count(*) AS tf
  FROM test_tok t JOIN vocab_set USING (tok)
  GROUP BY t.doc_id, t.tok
), contrib AS (
  SELECT tf.doc_id, w0.lang,
         sum(tf * coalesce(w.w, w0.w0)) AS body
  FROM test_tf tf
  CROSS JOIN w0
  LEFT JOIN w ON w.tok = tf.tok AND w.lang = w0.lang
  GROUP BY tf.doc_id, w0.lang
), test_docs AS (
  SELECT DISTINCT doc_id, lang AS true_lang FROM test_tok
), scored AS (
  SELECT d.doc_id, d.true_lang, p.lang AS cand,
         p.prior + coalesce(c.body, 0) AS score
  FROM test_docs d
  CROSS JOIN prior p
  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.lang = p.lang
), pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand) AS rk
  FROM scored
)
SELECT true_lang, pred_lang, count(*) AS n
FROM pred WHERE rk = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


@register(
    "docs_naive_bayes_lang_holdout",
    _NB_ORACLE,
    tags=("llm", "text", "model"),
    bench=True,  # new learned-model class -> regression-tracked
)
def docs_naive_bayes_lang_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes lang classifier: fit on even doc_ids,
    classify the odd holdout, return the confusion matrix.

    Fit = two wordcount shuffles; model (per-(token,class) decimal
    log-weights) is vocabulary-bounded and broadcast; scoring is one
    exact decimal sum per (doc, class) and one per-doc argmax window.
    """
    from event_streaming_spark.operators.materialize import materialize

    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
    )
    # ONE corpus scan: the document-term matrix (doc, lang, tok, tf) is
    # pinned; every model branch (class priors, vocabulary, totals,
    # token weights) and both scoring branches read the pin — unpinned,
    # each branch re-tokenized the corpus (6 scans).
    dtm = materialize(
        tok.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("tf")),
        "nb-dtm",
    )
    train = dtm.where(F.col("doc_id") % 2 == 0)
    test = dtm.where(F.col("doc_id") % 2 == 1)

    cls = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    n_train = cls.agg(F.sum("n_docs")).first()[0]  # scalar: #train docs
    vocab = train.select("tok").distinct()
    v_size = vocab.count()  # scalar: train vocabulary size

    totals = train.groupBy("lang").agg(F.sum("tf").alias("total_c"))
    dec = "decimal(18,6)"
    w = (
        train.groupBy("lang", "tok")
        .agg(F.sum("tf").alias("cnt"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "tok",
            F.round(
                F.log(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("total_c") + F.lit(v_size))
                ),
                6,
            )
            .cast(dec)
            .alias("w"),
        )
    )
    w0 = totals.select(
        "lang",
        F.round(F.log(F.lit(1.0) / (F.col("total_c") + F.lit(v_size)).cast("double")), 6)
        .cast(dec)
        .alias("w0"),
    )
    prior = cls.select(
        "lang",
        F.round(F.log(F.col("n_docs").cast("double") / F.lit(float(n_train))), 6)
        .cast(dec)
        .alias("prior"),
    )

    test_tf = test.join(vocab, "tok").select(  # OOV tokens dropped
        "doc_id", "tok", "tf"
    )
    contrib = (
        test_tf.crossJoin(F.broadcast(w0))
        .join(w, ["tok", "lang"], "left")
        .groupBy(F.col("doc_id").alias("c_doc"), F.col("lang").alias("c_lang"))
        .agg(F.sum(F.col("tf") * F.coalesce(F.col("w"), F.col("w0"))).alias("body"))
    )
    test_docs = test.select("doc_id", F.col("lang").alias("true_lang")).distinct()
    # (distinct over the pin's (doc, lang) projection — doc-count-sized)
    prior_c = prior.select(F.col("lang").alias("cand"), "prior")
    scored = (
        test_docs.crossJoin(F.broadcast(prior_c))
        .join(
            contrib,
            (F.col("c_doc") == F.col("doc_id")) & (F.col("c_lang") == F.col("cand")),
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("prior") + F.coalesce(F.col("body"), F.lit(0).cast(dec))).alias(
                "score"
            ),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand"))
    pred = scored.withColumn("rk", F.row_number().over(rk)).where(F.col("rk") == 1)
    return (
        pred.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# TextRank keyphrases: undirected co-occurrence graph (window ≤ 2 over
# the original token sequence, endpoints above a global frequency
# floor), 3 rounds of exact-integer PageRank, top 25 by rank.
# ---------------------------------------------------------------------------

_TR_FLOOR = 5  # global count floor for graph nodes

_TR_POS = (
    "SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS tok FROM ("
    f"  SELECT doc_id, string_split({sql_normalize_text('text')}, ' ') AS a"
    "  FROM documents)"
)


def _textrank_oracle() -> str:
    from event_streaming_spark.operators.graph import sql_pagerank_integer

    nodes_sql = (
        f"SELECT tok AS node FROM ({_TR_POS}) WHERE tok <> ''"
        f" GROUP BY tok HAVING count(*) >= {_TR_FLOOR}"
    )
    edges_sql = f"""
WITH pos AS ({_TR_POS}),
nodes AS ({nodes_sql}),
shifted AS (
  SELECT doc_id, pos - 1 AS pos, tok AS tok_b FROM pos
  UNION ALL
  SELECT doc_id, pos - 2 AS pos, tok AS tok_b FROM pos
),
pairs AS (
  SELECT least(a.tok, b.tok_b) AS src, greatest(a.tok, b.tok_b) AS dst
  FROM pos a JOIN shifted b USING (doc_id, pos)
  WHERE a.tok <> b.tok_b AND a.tok <> '' AND b.tok_b <> ''
)
SELECT DISTINCT src, dst
FROM pairs
JOIN nodes na ON na.node = pairs.src
JOIN nodes nb ON nb.node = pairs.dst
"""
    pr = sql_pagerank_integer(nodes_sql, edges_sql, iters=3)
    return pr.replace(
        "SELECT node, pr_scaled FROM r3",
        "SELECT node AS token, pr_scaled FROM r3"
        " ORDER BY pr_scaled DESC, token LIMIT 25",
    )


@register(
    "text_textrank_keyphrases",
    _textrank_oracle(),
    tags=("llm", "text", "graph", "iterative"),
    bench=True,  # new learned-model class -> regression-tracked
)
def text_textrank_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 TextRank keyphrases over the corpus co-occurrence graph.

    Edge build is a lead() window over each document's position order —
    linear in tokens, never a quadratic self-join; the graph (and the
    PageRank loop) is vocabulary-sized, independent of corpus scale.
    """
    from event_streaming_spark.operators.graph import pagerank_integer
    from event_streaming_spark.operators.materialize import materialize

    docs = load(spark, sf_dir, "documents")
    # ONE corpus scan: the positional token stream feeds the node-floor
    # count, the pair-join left side, and both shifted projections — pin
    # it so the tokenize pass runs once.
    pos = materialize(
        docs.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        .where(F.col("tok") != ""),
        "textrank-pos",
    )
    nodes = (
        pos.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _TR_FLOOR)
        .select(F.col("tok").alias("node"))
    )
    # Window-2 adjacency via lead() over the per-doc position order
    # (r12, guide §2.4): ONE doc_id exchange + a linear window pass
    # replaces the previous (doc_id, pos) self-join, whose shifted side
    # was a 2× union of the token stream — three token-stream exchanges
    # down to one, still LINEAR in tokens (never a per-doc quadratic
    # join).  Positions can have gaps (the '' filter above), so each
    # lead is gated on the ORIGINAL position distance: a neighbour at
    # original distance ≤2 is at most 2 surviving rows ahead (at most
    # one filtered row fits between), distance-1 can only be the first.
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    nb = pos.select(
        "pos",
        "tok",
        F.lead("tok", 1).over(w2).alias("t1"),
        F.lead("pos", 1).over(w2).alias("p1"),
        F.lead("tok", 2).over(w2).alias("t2"),
        F.lead("pos", 2).over(w2).alias("p2"),
    )
    pairs = (
        nb.select(
            "tok",
            F.explode(
                F.array(
                    F.when(F.col("p1") - F.col("pos") <= 2, F.col("t1")),
                    F.when(F.col("p2") - F.col("pos") == 2, F.col("t2")),
                )
            ).alias("tok_b"),
        )
        .where(F.col("tok_b").isNotNull() & (F.col("tok") != F.col("tok_b")))
        .select(
            F.least("tok", "tok_b").alias("src"),
            F.greatest("tok", "tok_b").alias("dst"),
        )
    )
    edges = (
        pairs.join(F.broadcast(nodes), pairs.src == nodes.node)
        .drop("node")
        .join(F.broadcast(nodes), pairs.dst == nodes.node)
        .select("src", "dst")
        .distinct()
    )
    capture_plan("text_textrank_keyphrases/adjacency_build", edges)
    pr = pagerank_integer(nodes, edges, iters=3)
    return (
        pr.select(F.col("node").alias("token"), "pr_scaled")
        .orderBy(F.col("pr_scaled").desc(), "token")
        .limit(25)
    )


# ===========================================================================
# PCA over the embeddings table — top principal component by POWER
# ITERATION in exact integer arithmetic, oracle-paired.
#
# The missing linear-algebra primitive of the embedding toolkit (k-means,
# PQ, IVF, LSH are already in the catalog): the dominant eigenvector of
# the covariance matrix, used in real pipelines for whitening, ABTT
# ("all-but-the-top") embedding post-processing, dimensionality checks and
# drift monitoring.
#
# Spark-first shape (the 100 TB story):
#   * the only data-sized pass is the SECOND-MOMENT accumulation — one
#     ``mapInPandas`` stage computes per-batch ``XᵀX`` partials with a
#     vectorized numpy matmul (D×D int64 per batch) plus per-dim sums and
#     a count, emitting ≤ D²+D+1 rows per task; the final combine is a
#     4161-key aggregate.  The corpus never shuffles and is read ONCE.
#   * the eigensolve itself runs on the DRIVER over the D²-bounded scatter
#     matrix (same topology precedent as the k-means driver-held
#     centroids: D=64 → 4096 ints; even D=4096 → 16M ints is driver-trivial
#     next to a 100 TB corpus).
#   * determinism: quantized inputs (``floor(x·1000+0.5)``), the scatter
#     matrix as exact int64 ``n·Σvᵢvⱼ − sᵢ·sⱼ``, and a fixed 10-round
#     power iteration whose rescale step is a magnitude-truncating integer
#     division — Spark's driver math and DuckDB's unrolled CTE chain agree
#     BITWISE, so the approximate eigenvector itself hash-verifies (the
#     same exactness discipline as the integer PageRank,
#     operators/graph.py).
#
# Magnitude audit (scale 1e3 inputs, NSCALE 1e4, VSCALE 1e3, D=64):
#   |R| ≤ n·1e6, |M| = |n·R − s·s| ≤ n²·1e6 → |M·NSCALE| ≤ n²·1e10:
#   int64-safe for n ≤ ~30k rows (every SF + the 10× replica; beyond that
#   the M aggregate moves to DECIMAL(38,0), shape unchanged).  Iteration:
#   |w| ≤ NSCALE·VSCALE·D = 6.4e8; Rayleigh numerator ≤ NSCALE·VSCALE²·D²
#   = 4e13 — all int64.
# ===========================================================================

_DIM = 64
_QSCALE = 1000  # input quantization (matches k-means _KM_SCALE)
_NSCALE = 10_000  # scatter-matrix normalization target
_VSCALE = 1000  # iteration-vector normalization target
_ROUNDS = 10


def _tdiv(a: int, b: int) -> int:
    """Magnitude-truncating division (toward zero), b > 0 — the ONE
    division semantics all three evaluators share (Spark `div` and
    DuckDB `//` both truncate toward zero; Python's `//` floors, so the
    driver math uses this helper instead)."""
    return (abs(a) // b) * (1 if a >= 0 else -1)


def _pca_oracle() -> str:
    """Unrolled CTE chain replicating the integer recurrence verbatim."""
    cte = [
        f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
             x -> cast(floor(cast(x as double)*{_QSCALE} + 0.5) as bigint)) AS q
  FROM embeddings
),
e AS MATERIALIZED (SELECT vec_id, unnest(range(1, {_DIM + 1})) AS pos, unnest(q) AS v FROM q),
nn AS MATERIALIZED (SELECT count(*) AS n FROM q),
s AS MATERIALIZED (SELECT pos, sum(v) AS s FROM e GROUP BY pos),
r AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, sum(a.v * b.v) AS r
      FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
m AS MATERIALIZED (SELECT i, j, nn.n * r.r - si.s * sj.s AS m
      FROM r, nn
      JOIN s si ON si.pos = r.i
      JOIN s sj ON sj.pos = r.j),
mxm AS MATERIALIZED (SELECT greatest(max(abs(m)), 1) AS mx FROM m),
mn AS MATERIALIZED (SELECT i, j,
              (abs(m) * {_NSCALE} // mx)
              * (CASE WHEN m < 0 THEN -1 ELSE 1 END) AS m
       FROM m, mxm),
v0 AS MATERIALIZED (SELECT pos, cast({_VSCALE} AS BIGINT) AS v FROM s)"""
    ]
    for t in range(_ROUNDS):
        cte.append(
            f"""
w{t} AS MATERIALIZED (SELECT mn.i AS pos, sum(mn.m * v{t}.v) AS w
        FROM mn JOIN v{t} ON mn.j = v{t}.pos GROUP BY mn.i),
wm{t} AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS mx FROM w{t}),
v{t + 1} AS MATERIALIZED (SELECT pos,
              (abs(w) * {_VSCALE} // mx)
              * (CASE WHEN w < 0 THEN -1 ELSE 1 END) AS v
        FROM w{t}, wm{t})"""
        )
    vt = f"v{_ROUNDS}"
    cte.append(
        f"""
sgn AS MATERIALIZED (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
        FROM {vt} ORDER BY abs(v) DESC, pos ASC LIMIT 1),
raynum AS MATERIALIZED (SELECT sum(mn.m * a.v * b.v) AS num
           FROM mn JOIN {vt} a ON a.pos = mn.i JOIN {vt} b ON b.pos = mn.j),
rayden AS MATERIALIZED (SELECT greatest(sum(v * v), 1) AS den FROM {vt}),
ray AS MATERIALIZED (SELECT (abs(num) // den) * (CASE WHEN num < 0 THEN -1 ELSE 1 END)
          AS rayleigh
        FROM raynum, rayden)"""
    )
    select = f"""
SELECT cast(pos - 1 AS BIGINT) AS dim,
       cast(v * sg AS BIGINT) AS loading_milli,
       round(cast(v * sg AS DOUBLE) / {_VSCALE}.0, 3) AS loading,
       cast(rayleigh AS BIGINT) AS rayleigh_scaled
FROM {vt}, sgn, ray
ORDER BY dim"""
    return ",".join(cte) + select


def _moment_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-batch XᵀX / Σx / n partials — the map-side combine of the
    covariance pass.  Emits (i, j, val): j=-1 rows are per-dim sums,
    (i=-1, j=-1) is the row count."""
    import numpy as np

    for pdf in batches:
        if pdf.empty:
            continue
        x = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (n_b, D)
        r = x.T @ x  # exact: |v|<=1e3+eps, n_b<=10k -> ~1e10 per cell
        ii, jj = np.indices(r.shape)
        out = pd.DataFrame(
            {"i": ii.ravel(), "j": jj.ravel(), "val": r.ravel()}
        )
        sums = pd.DataFrame(
            {"i": np.arange(x.shape[1]), "j": -1, "val": x.sum(axis=0)}
        )
        cnt = pd.DataFrame({"i": [-1], "j": [-1], "val": [x.shape[0]]})
        yield pd.concat([out, sums, cnt], ignore_index=True)


@register(
    "emb_pca_power_iteration",
    _pca_oracle(),
    tags=("llm", "ann", "stats", "linalg"),
    bench=True,  # the linalg covariance pass joins the tracked set
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance by 10 rounds
    of exact-integer power iteration; loadings hash-equal the oracle."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _QSCALE + F.lit(0.5)).cast("long"),
        ).alias("q")
    )
    partials = q.mapInPandas(_moment_partials, "i int, j int, val long")
    moments = partials.groupBy("i", "j").agg(F.sum("val").alias("val")).collect()

    # ---- driver-side eigensolve over the D²-bounded scatter matrix ----
    raw = [[0] * _DIM for _ in range(_DIM)]
    s = [0] * _DIM
    n = 0
    for row in moments:
        if row["i"] == -1:
            n = row["val"]
        elif row["j"] == -1:
            s[row["i"]] = row["val"]
        else:
            raw[row["i"]][row["j"]] = row["val"]
    m = [[n * raw[i][j] - s[i] * s[j] for j in range(_DIM)] for i in range(_DIM)]
    mx = max(max(abs(c) for c in rowv) for rowv in m) or 1
    mn = [[_tdiv(c * _NSCALE, mx) for c in rowv] for rowv in m]

    v = [_VSCALE] * _DIM
    for _ in range(_ROUNDS):
        w = [sum(mn[i][j] * v[j] for j in range(_DIM)) for i in range(_DIM)]
        wmx = max(abs(c) for c in w) or 1
        v = [_tdiv(c * _VSCALE, wmx) for c in w]

    # sign canonicalization: the max-|loading| dim (lowest index on ties)
    # points positive, so the direction is presentation-stable
    lead = max(range(_DIM), key=lambda i: (abs(v[i]), -i))
    sg = -1 if v[lead] < 0 else 1
    v = [c * sg for c in v]
    num = sum(mn[i][j] * v[i] * v[j] for i in range(_DIM) for j in range(_DIM))
    den = sum(c * c for c in v) or 1
    rayleigh = _tdiv(num, den)

    rows = [
        (i, v[i], round(v[i] / float(_VSCALE), 3), rayleigh) for i in range(_DIM)
    ]
    return local_frame(spark, 
        rows,
        "dim bigint, loading_milli bigint, loading double, rayleigh_scaled bigint",
    ).orderBy("dim")
