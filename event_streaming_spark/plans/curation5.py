"""Round-10 curation analytics: exact-substring dedup spans, corpus
novelty by position, quality-signal correlation, and PMI collocations.

* ``docs_exact_substring_dedup_spans`` — the Lee et al. (2022,
  "Deduplicating Training Data Makes Language Models Better")
  exact-substring primitive: positional 3-token shingles hashed, a
  position is DUPLICATED when its shingle occurs in >= 2 distinct
  documents, and adjacent duplicated positions merge into cut spans
  (gaps-and-islands on the per-doc position list).  Per document:
  span count, duplicated-token total, and dup_token_ppm — the table a
  dedup job turns into byte ranges to cut.  ``text_dup_span_fraction``
  (plans/scale_ops2.py) reports the shared-shingle RATIO; this emits
  the merged SPANS, which is what the cutter needs.
* ``text_ngram_novelty_by_decile`` — dataset-ordering readout: for
  each corpus-position decile (by doc_id), the fraction of its
  distinct 3-gram shingles whose FIRST corpus occurrence is in that
  decile's own documents.  A front-loaded corpus shows novelty
  collapsing in late deciles — the curriculum/ordering diagnostic.
* ``docs_quality_signal_correlation`` — exact Pearson correlations
  between the three cheap quality signals (token count, normalized
  char length, distinct-token count) from DECIMAL-exact sums; the
  readout that says which signals are redundant before anyone adds
  them to a filter ensemble.
* ``text_token_pmi_top_pairs`` — top-20 adjacent-token collocations by
  pointwise mutual information (min support 20): the classic
  phrase-mining primitive (Church & Hanks 1990).

100 TB shape: every query is one tokenize pass over documents feeding
wordcount-shaped shuffles (shingle/bigram/unigram counts), then
doc-keyed windows (spans) or grid-sized frames (deciles: 10 rows,
corr: 1 row, PMI: vocab²-bounded after the min-support filter, top-20
via TakeOrdered).  No unpartitioned windows, no corpus-sized frames.

Reference parity note: the reference engine (SURVEY §2) has no text
surface; these extend the LLM-pipeline mandate alongside
plans/curation*.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import (
    normalize_text,
    sql_normalize_text,
    sql_stable_hash32,
    stable_hash32,
    tokens,
)
from event_streaming_spark.plans.catalog import load, register

# ---------------------------------------------------------------------------
# Exact-substring dedup spans.
#
# A flagged position i covers tokens [i, i+2] (3-token shingles); two
# flagged positions p < q belong to one span iff q <= p + 3 (their
# coverage is contiguous or overlapping).  Span token count =
# last - first + 3.  Only CROSS-document duplication flags a position
# (within-doc repetition is text_repetition_metrics' job).
# ---------------------------------------------------------------------------

_SPAN_GAP = 3  # max position step that keeps 3-token coverage contiguous


def _spans_oracle() -> str:
    toks = f"string_split({sql_normalize_text('text')}, ' ')"
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {toks} AS tk, cast(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
), shp AS MATERIALIZED (
  SELECT doc_id, n_tokens,
         unnest(sarr) AS s,
         generate_subscripts(sarr, 1) AS pos
  FROM (
    SELECT doc_id, n_tokens,
           list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                          i -> array_to_string(tk[i:i+2], ' ')) AS sarr
    FROM base)
), sh AS MATERIALIZED (
  SELECT doc_id, n_tokens, pos, {sql_stable_hash32('s')} AS h FROM shp
), duph AS MATERIALIZED (
  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), flagged AS MATERIALIZED (
  SELECT doc_id, pos FROM sh JOIN duph USING (h)
), isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_GAP}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS span_id
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM flagged)
), spans AS (
  SELECT doc_id, span_id,
         max(pos) - min(pos) + 3 AS span_tokens
  FROM isl GROUP BY doc_id, span_id
), per_doc AS (
  SELECT doc_id, cast(count(*) AS BIGINT) AS n_spans,
         cast(sum(span_tokens) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id AS doc_id, b.n_tokens AS n_tokens,
       cast(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       cast(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       cast(coalesce(p.dup_tokens, 0) * 1000000 // b.n_tokens AS BIGINT)
         AS dup_token_ppm
FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
ORDER BY doc_id
"""


@register(
    "docs_exact_substring_dedup_spans",
    _spans_oracle(),
    tags=("llm", "dedup", "text", "curation"),
    bench=True,
)
def docs_exact_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged cross-doc duplicated 3-gram spans per document.

    Scale design: the positional shingle table is corpus-linear (one
    row per token position); duplicated-hash detection is a wordcount
    shuffle; the islands window is PARTITIONED BY doc_id, so state per
    task is one document's flagged positions.  No corpus window, no
    all-pairs stage — the candidate set is position-flag joins on h.
    """
    from event_streaming_spark.operators.materialize import materialize
    from event_streaming_spark.plans.catalog import spread

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    base = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("tk"),
    ).select("doc_id", "tk", F.size("tk").cast("long").alias("n_tokens"))
    # positional shingles: 1-based pos, guarded so <3-token docs emit none
    # (Spark's sequence(1, 0) would DESCEND — never feed it stop < start)
    sarr = F.expr(
        "CASE WHEN size(tk) >= 3 THEN "
        "transform(sequence(1, size(tk) - 2), "
        "          i -> concat_ws(' ', slice(tk, i, 3))) "
        "ELSE array() END"
    )
    # pin the positional-shingle table: three consumers (dup-hash agg,
    # flag join, per-doc totals) must not re-run the tokenize+explode
    # lineage (the multi-branch rescan lesson — one "Scan parquet" each
    # would triple the corpus pass)
    sh = materialize(
        base.select(
            "doc_id", "n_tokens", F.posexplode(sarr).alias("pos0", "s")
        ).select(
            "doc_id",
            "n_tokens",
            (F.col("pos0") + 1).alias("pos"),
            stable_hash32(F.col("s")).alias("h"),
        ),
        name="substr-dedup-shingles",
    )
    # r12 (guide §2.4): "shared by ≥2 distinct docs" ⟺ min(doc_id) ≠
    # max(doc_id) over the h-partition — ONE window exchange of the
    # positional table replaces the countDistinct aggregate PLUS the
    # join-back (which re-shuffled the corpus-linear sh frame by h a
    # second time).  Same task placement per h as the join's shuffle;
    # per-task state is one hash's postings, bounded as before.  What the
    # rewrite lost: AQE could split a hot h's skewed JOIN partition, and
    # the aggregate leg had partial aggregation; a window partition is
    # never split, so a very hot shingle hash runs on one task.
    wdup = Window.partitionBy("h")
    flagged = (
        sh.select("doc_id", "pos", "h")
        .withColumn("_mn", F.min("doc_id").over(wdup))
        .withColumn("_mx", F.max("doc_id").over(wdup))
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos")
    )
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = flagged.withColumn("prev", F.lag("pos").over(wlag)).withColumn(
        "span_id",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > _SPAN_GAP),
                1,
            ).otherwise(0)
        ).over(wrun),
    )
    spans = isl.groupBy("doc_id", "span_id").agg(
        (F.max("pos") - F.min("pos") + 3).alias("span_tokens")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.expr(
                "(coalesce(dup_tokens, 0) * CAST(1000000 AS BIGINT))"
                " div n_tokens"
            )
            .cast("long")
            .alias("dup_token_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# N-gram novelty by corpus-position decile.
# ---------------------------------------------------------------------------

def _novelty_oracle() -> str:
    # EXACTLY sql_shingle_hashes (distinct shingle STRINGS, then hash):
    # dedup must happen before hashing on both engines, or a 32-bit
    # collision inside one document would diverge the counts.
    from event_streaming_spark.operators.similarity import sql_shingle_hashes

    return _NOVELTY_ORACLE.replace("{SHINGLES}", sql_shingle_hashes("text"))


_NOVELTY_ORACLE = """
WITH sh AS MATERIALIZED (
  SELECT doc_id, unnest({SHINGLES}) AS h FROM documents
), firsts AS MATERIALIZED (
  SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h
), bounds AS (
  SELECT min(doc_id) AS dmin, max(doc_id) AS dmax FROM documents
), per_doc AS (
  SELECT sh.doc_id,
         count(*) AS n_sh,
         sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM sh JOIN firsts f USING (h)
  GROUP BY sh.doc_id
), ddec AS (
  SELECT d.doc_id,
         least(9, (d.doc_id - b.dmin) * 10 // (b.dmax - b.dmin + 1)) AS decile
  FROM documents d CROSS JOIN bounds b
), dcount AS (
  SELECT decile, cast(count(*) AS BIGINT) AS n_docs FROM ddec GROUP BY decile
), dsh AS (
  SELECT dd.decile,
         cast(sum(p.n_sh) AS BIGINT) AS n_shingles,
         cast(sum(p.n_novel) AS BIGINT) AS n_novel
  FROM per_doc p JOIN ddec dd USING (doc_id)
  GROUP BY dd.decile
)
SELECT c.decile, c.n_docs,
       cast(coalesce(s.n_shingles, 0) AS BIGINT) AS n_shingles,
       cast(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel,
       cast(CASE WHEN coalesce(s.n_shingles, 0) > 0
                 THEN s.n_novel * 1000000 // s.n_shingles
                 ELSE 0 END AS BIGINT) AS novelty_ppm
FROM dcount c LEFT JOIN dsh s USING (decile)
ORDER BY decile
"""


@register(
    "text_ngram_novelty_by_decile",
    _novelty_oracle(),
    tags=("llm", "text", "curation", "audit"),
)
def text_ngram_novelty_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc_id-decile's distinct shingles first seen in
    that decile.

    Scale design: first-occurrence is min(doc_id) per shingle hash (one
    wordcount shuffle), joined back on h; the decile key comes from a
    broadcast 1-row min/max — NOT an ntile window, which would be a
    corpus-sized unpartitioned sort.  Deciles are a 10-row frame.
    """
    from event_streaming_spark.operators.materialize import materialize
    from event_streaming_spark.operators.similarity import shingle_hashes
    from event_streaming_spark.plans.catalog import spread

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    # spread + pin: the md5-shingle explode is the cost center (50 s
    # single-task at 10x — the fixture parquet is one row group) and
    # TWO consumers (firsts, the join) would re-run it
    sh = materialize(
        docs.select(
            "doc_id", F.explode(shingle_hashes(F.col("text"))).alias("h")
        ),
        name="novelty-shingles",
    )
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    bounds = docs.agg(
        F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax")
    ).coalesce(1)
    ddec = docs.select("doc_id").crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        F.least(
            F.lit(9),
            F.expr("(doc_id - dmin) * 10 div (dmax - dmin + 1)"),
        ).alias("decile"),
    )
    dcount = ddec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    dsh = (
        per_doc.join(ddec, "doc_id")
        .groupBy("decile")
        .agg(
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
        )
    )
    return (
        dcount.join(dsh, "decile", "left")
        .select(
            "decile",
            "n_docs",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.expr("(n_novel * CAST(1000000 AS BIGINT)) div n_shingles"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Quality-signal Pearson correlation (DECIMAL-exact sums).
# ---------------------------------------------------------------------------


def _corr_sql_expr(x: str, y: str) -> str:
    """Pearson corr from the exact DECIMAL sums s_{x,y,xy,xx,yy} and n —
    identical operation order on both engines: exact integer moments,
    ONE double conversion, one division, round 6."""
    num = f"cast(n * s_{x}{y} - s_{x} * s_{y} AS DOUBLE)"
    d1 = f"cast(n * s_{x}{x} - s_{x} * s_{x} AS DOUBLE)"
    d2 = f"cast(n * s_{y}{y} - s_{y} * s_{y} AS DOUBLE)"
    return f"round({num} / (sqrt({d1}) * sqrt({d2})), 6)"


_CORR_ORACLE = f"""
WITH sig AS (
  SELECT cast(len(tk) AS DECIMAL(38,0)) AS t,
         cast(length(norm) AS DECIMAL(38,0)) AS c,
         cast(len(list_distinct(tk)) AS DECIMAL(38,0)) AS u
  FROM (SELECT {sql_normalize_text('text')} AS norm,
               string_split({sql_normalize_text('text')}, ' ') AS tk
        FROM documents)
), m AS (
  SELECT cast(count(*) AS DECIMAL(38,0)) AS n,
         sum(t) AS s_t, sum(c) AS s_c, sum(u) AS s_u,
         sum(t*c) AS s_tc, sum(t*u) AS s_tu, sum(c*u) AS s_cu,
         sum(t*t) AS s_tt, sum(c*c) AS s_cc, sum(u*u) AS s_uu
  FROM sig
)
SELECT cast(n AS BIGINT) AS n_docs,
       {_corr_sql_expr('t', 'c')} AS corr_tokens_chars,
       {_corr_sql_expr('t', 'u')} AS corr_tokens_uniq,
       {_corr_sql_expr('c', 'u')} AS corr_chars_uniq
FROM m
"""


@register(
    "docs_quality_signal_correlation",
    _CORR_ORACLE,
    tags=("llm", "curation", "stats"),
)
def docs_quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of (token count, char length,
    distinct-token count).

    Scale design: ONE map-side-combined aggregate over documents
    producing ten DECIMAL(38,0) moments (exact past 2^53 — corpus char
    sums cross int64 territory at 100 TB), then a 1-row arithmetic
    epilogue.  No window, no join, no second scan.
    """
    from event_streaming_spark.plans.catalog import spread

    docs = spread(load(spark, sf_dir, "documents"))
    norm = normalize_text(F.col("text"))
    tk = F.split(norm, " ")
    dec = "decimal(38,0)"
    sig = docs.select(
        F.size(tk).cast(dec).alias("t"),
        F.length(norm).cast(dec).alias("c"),
        F.size(F.array_distinct(tk)).cast(dec).alias("u"),
    )
    m = sig.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("t").cast(dec).alias("s_t"),
        F.sum("c").cast(dec).alias("s_c"),
        F.sum("u").cast(dec).alias("s_u"),
        F.sum(F.col("t") * F.col("c")).cast(dec).alias("s_tc"),
        F.sum(F.col("t") * F.col("u")).cast(dec).alias("s_tu"),
        F.sum(F.col("c") * F.col("u")).cast(dec).alias("s_cu"),
        F.sum(F.col("t") * F.col("t")).cast(dec).alias("s_tt"),
        F.sum(F.col("c") * F.col("c")).cast(dec).alias("s_cc"),
        F.sum(F.col("u") * F.col("u")).cast(dec).alias("s_uu"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr(_corr_sql_expr("t", "c")).alias("corr_tokens_chars"),
        F.expr(_corr_sql_expr("t", "u")).alias("corr_tokens_uniq"),
        F.expr(_corr_sql_expr("c", "u")).alias("corr_chars_uniq"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (Church & Hanks 1990), min support 20, top-20.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 20

_PMI_ORACLE = f"""
WITH tk AS MATERIALIZED (
  SELECT doc_id, string_split({sql_normalize_text('text')}, ' ') AS tks
  FROM documents
), uni AS MATERIALIZED (
  SELECT w, cast(count(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(tks) AS w FROM tk) GROUP BY w
), bi AS MATERIALIZED (
  SELECT a, b, cast(count(*) AS BIGINT) AS c_ab
  FROM (
    -- aligned unnest of the two shifted slices unrolls pairwise
    SELECT unnest(tks[1:len(tks)-1]) AS a, unnest(tks[2:len(tks)]) AS b
    FROM tk
  ) GROUP BY a, b
), tot AS (
  SELECT cast(sum(len(tks)) AS BIGINT) AS n1,
         cast(sum(len(tks) - 1) AS BIGINT) AS n2
  FROM tk
)
SELECT a, b, c_ab,
       round(ln((cast(c_ab AS DOUBLE) * cast(n1 AS DOUBLE) * cast(n1 AS DOUBLE))
                / (cast(ua.c_w AS DOUBLE) * cast(ub.c_w AS DOUBLE)
                   * cast(n2 AS DOUBLE))), 6) AS pmi
FROM bi JOIN uni ua ON ua.w = bi.a
        JOIN uni ub ON ub.w = bi.b
        CROSS JOIN tot
WHERE c_ab >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, a, b LIMIT 20
"""


@register(
    "text_token_pmi_top_pairs",
    _PMI_ORACLE,
    tags=("llm", "text", "stats"),
)
def text_token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token pairs by PMI (min support ``_PMI_MIN_COUNT``).

    Scale design: unigram/bigram counts are wordcount shuffles; the
    min-support filter bounds the pair table BEFORE the unigram joins
    (vocab-sized, broadcast); totals are broadcast 1-row aggregates;
    the top-20 is orderBy+limit (TakeOrdered — no global window, no
    single-partition sort).  PMI is computed all-double with one
    operation order on both engines, rounded at 6dp.
    """
    from event_streaming_spark.plans.catalog import spread

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tks"))
    uni = (
        tk.select(F.explode("tks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    )
    # Spark arrays are 0-indexed (DuckDB's are 1-indexed — the oracle
    # mirrors with tks[i]/tks[i+1] over a 1-based i)
    pairs = tk.select(
        F.explode(
            F.expr(
                "CASE WHEN size(tks) >= 2 THEN "
                "transform(sequence(0, size(tks) - 2), "
                "          i -> struct(tks[i] AS a, tks[i+1] AS b)) "
                "ELSE array() END"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    bi = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    # totals in ONE 1-row aggregate over the token-array frame (n1 = sum
    # of lengths = sum(c_w); n2 = sum(len-1) = total adjacent pairs) —
    # no second explode pass over the corpus
    tot = tk.agg(
        F.sum(F.size("tks")).cast("long").alias("n1"),
        F.sum(F.size("tks") - 1).cast("long").alias("n2"),
    )
    ua = uni.select(F.col("w").alias("a"), F.col("c_w").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("c_w").alias("cb"))
    pmi = F.round(
        F.log(
            (
                F.col("c_ab").cast("double")
                * F.col("n1").cast("double")
                * F.col("n1").cast("double")
            )
            / (
                F.col("ca").cast("double")
                * F.col("cb").cast("double")
                * F.col("n2").cast("double")
            )
        ),
        6,
    )
    return (
        # ua/ub are vocabulary-scale (they grow with the corpus), so no
        # explicit broadcast hint: AQE picks broadcast when the measured
        # size fits and a shuffle join when it doesn't — a forced hint
        # here is an OOM risk at large sf.  The 1-row scalar `tot` stays
        # broadcast.
        bi.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(20)
    )
