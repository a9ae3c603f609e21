"""Curation tranche: near-dup cluster canonicalization (connected
components over MinHash-LSH pairs) and deterministic hash-based sampling
/ source mixing — the steps between "found near-dup pairs" and "emitted
a training corpus".

The sampling queries use the cross-engine stable_hash32 (md5-derived, see
functions/hashing.py) so the SAME documents are selected by Spark and the
oracle — and, more importantly for production, by any two runs over any
partitioning.  Random() sampling is neither reproducible nor
oracle-checkable; hash-gate sampling is both, and it is the standard
technique for train/eval splits that must never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import sql_stable_hash32, stable_hash32
from event_streaming_spark.operators.components import connected_components
from event_streaming_spark.operators.fixpoint import Round, iterate
from event_streaming_spark.operators.graph import symmetrized
from event_streaming_spark.operators.materialize import materialize
from event_streaming_spark.functions.numeric import exact_avg, sql_exact_avg
from event_streaming_spark.operators.text import (
    quality_features as _quality_features,
    simhash_wide as _simhash_wide,
    sql_quality_features as _sql_quality_features,
    sql_simhash_over as _sql_simhash_over,
    sql_token_hashes_wide as _sql_token_hashes_wide,
    sql_ws_token_count,
    ws_token_count,
)
from event_streaming_spark.plans.catalog import load, register
from event_streaming_spark.plans.llm_similarity import (
    _LSH_ORACLE,
    minhash_lsh_near_dup_pairs,
)

# ---------------------------------------------------------------------------
# Near-dup clusters: transitive closure of the MinHash-LSH pair list, every
# document labeled with the min doc_id of its cluster (singletons label
# themselves).  Downstream dedup keeps rows where doc_id == cluster_id.
#
# Spark side: iterative min-label propagation (operators/components.py) —
# a driver loop of join+agg rounds, O(cluster diameter) of them.  Oracle
# side: the same fixpoint as a recursive CTE (min reachable id).  This is
# inherently iterative, so it is the one catalog query whose Spark plan is
# a loop — the oracle still pins its exact output.
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a, doc_b FROM ({_LSH_ORACLE})
), bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM edges
), reach(node, origin) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT b.dst AS node, r.origin FROM reach r JOIN bidir b ON b.src = r.node
)
SELECT node AS doc_id, min(origin) AS cluster_id FROM reach GROUP BY node
"""


@register("dedup_near_dup_clusters", _CC_ORACLE, tags=("llm", "dedup", "iterative"), bench=True)
def dedup_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(docs, edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Stratified sample: per-language keep rates via a hash gate on doc_id.
# stable_hash32("smpl|" + doc_id) is uniform on [0, 2³²); comparing its
# value mod 1000 against rate·1000 keeps each stratum at its target rate,
# deterministically.  Scale: stateless filter — pipelines into the scan,
# zero shuffles; changing rates re-selects a superset/subset (nested
# samples), which random() cannot do.
# ---------------------------------------------------------------------------

_LANG_RATES = {"en": 800, "de": 500, "es": 500, "fr": 500, "zh": 300}  # ‰
_DEFAULT_RATE = 200

_SQL_RATE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _LANG_RATES.items())
    + f" ELSE {_DEFAULT_RATE} END"
)

_STRAT_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sql_stable_hash32("'smpl|' || cast(doc_id AS VARCHAR)")} % 1000 < {_SQL_RATE}
"""


@register("sample_stratified_by_lang", _STRAT_ORACLE, tags=("llm", "sample"))
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    gate = stable_hash32(F.concat(F.lit("smpl|"), F.col("doc_id").cast("string"))) % 1000
    rate = F.lit(_DEFAULT_RATE)
    for k, v in _LANG_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return docs.filter(gate < rate).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Weighted source mix: per-source keep rates (up-/down-weighting corpora
# is how training mixtures are tuned), reported as an audit summary —
# kept vs total per source, with the realized rate.  Exact integers only.
# ---------------------------------------------------------------------------

_SRC_RATE = "CASE WHEN source IN ('src0','src1','src2','src3') THEN 900 " \
            "WHEN source IN ('src4','src5','src6') THEN 400 ELSE 150 END"

_MIX_ORACLE = f"""
SELECT source,
       count(*) AS n_total,
       count(*) FILTER (
         WHERE {sql_stable_hash32("'mix|' || cast(doc_id AS VARCHAR)")} % 1000 < {_SRC_RATE}
       ) AS n_kept
FROM documents
GROUP BY source
"""


@register("sample_weighted_mix_by_source", _MIX_ORACLE, tags=("llm", "sample", "agg"))
def sample_weighted_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    gate = stable_hash32(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))) % 1000
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 900)
        .when(F.col("source").isin("src4", "src5", "src6"), 400)
        .otherwise(150)
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(gate < rate, 1)).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup audit: a 48-bit simhash banded into 4 × 12-bit bands;
# any pair differing in ≤3 bits MUST share an intact band (pigeonhole), so
# the band equi-join has full recall at hamming ≤ 3 with zero O(n²) work.
# Verification is bit_count(xor) — pure int ops, identical both engines.
#
# Width is the scale knob: 8-bit bands (32-bit hash) go DENSE as the
# corpus grows — measured 126 s at a 10× corpus (50 k docs) because every
# 256-value band bucket held ~200 docs → ~20 M candidate pairs.  12-bit
# bands cut bucket occupancy 16× and candidates ~256×; at larger corpora
# still, widen again (the 100 TB setting is 64-bit simhash, 4×16-bit
# bands).  Output is the hamming histogram (the dedup-audit number), not
# the (dense) pair list — pairs would stream into the CC operator.
# ---------------------------------------------------------------------------

_SH_BITS = 48
_BAND_BITS = 12  # 4 bands × 12 bits = 48
_BAND_MASK = (1 << _BAND_BITS) - 1

_SIMHASH_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {_sql_token_hashes_wide('text', _SH_BITS)} AS hs FROM documents
), sh AS (
  SELECT doc_id, {_sql_simhash_over('hs', _SH_BITS)} AS sh FROM hs
), bands AS (
  SELECT doc_id, sh, j AS band_idx, (sh >> ({_BAND_BITS} * j)) & {_BAND_MASK} AS bv
  FROM sh, (SELECT unnest(range(4)) AS j)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sha, b.sh AS shb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT cast(bit_count(xor(sha, shb)) AS INT) AS hamming, count(*) AS n_pairs
FROM cand
WHERE bit_count(xor(sha, shb)) <= 3
GROUP BY hamming
"""


@register("simhash_near_dup_histogram", _SIMHASH_ORACLE, tags=("llm", "dedup", "hash"), bench=True)
def simhash_near_dup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.plans.catalog import spread

    docs = spread(load(spark, sf_dir, "documents"))
    sh = materialize(
        docs.select("doc_id", _simhash_wide(F.col("text"), _SH_BITS).alias("sh")),
        "simhash",
    )  # simhash is the expensive stage — compute once, both join sides reuse
    bands = sh.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), _BAND_BITS * j).bitwiseAND(F.lit(_BAND_MASK))
                    for j in range(4)
                ]
            )
        ).alias("band_idx", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    # hamming filter BEFORE the pair-dedup shuffle: the filter commutes
    # with DISTINCT, is map-side cheap, and cuts the shuffled candidate
    # volume ~10× (measured 126s → sub-linear at a 10× corpus, where
    # 8-bit bands go dense and candidates grow quadratically).
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation — the flagship composite: near-dup clusters →
# keep only each cluster's canonical doc → quality gate (alpha ratio +
# token-count band) → deterministic sample gate → per-language audit
# (docs kept, tokens kept).  Every stage is one of the operators above,
# composed; at 100 TB each stage is either a stateless filter (quality,
# sample) or the CC join — the expensive parts (signatures, clusters) are
# computed once and reused, exactly as a production pipeline would
# materialize them between stages.
# ---------------------------------------------------------------------------

_CUR_QF = _sql_quality_features("text")

_CURATION_ORACLE = f"""
WITH kept AS (
  SELECT d.lang, {_CUR_QF['n_tokens']} AS n_tokens
  FROM documents d JOIN ({_CC_ORACLE}) l ON d.doc_id = l.doc_id
  WHERE l.cluster_id = d.doc_id
    AND {_CUR_QF['alpha_ratio']} >= 0.6
    AND {_CUR_QF['n_tokens']} BETWEEN 5 AND 5000
    AND {sql_stable_hash32("'cur|' || cast(d.doc_id AS VARCHAR)")} % 1000 < 900
)
SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY lang
"""


@register("corpus_curation_end_to_end", _CURATION_ORACLE, tags=("llm", "dedup", "sample", "pipeline"), bench=True)
def corpus_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    canonical = dedup_near_dup_clusters(spark, sf_dir).filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    feats = _quality_features(F.col("text"))
    gate = stable_hash32(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))) % 1000
    return (
        docs.join(canonical, "doc_id", "left_semi")
        .filter(
            (feats["alpha_ratio"] >= 0.6)
            & feats["n_tokens"].between(5, 5000)
            & (gate < 900)
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(feats["n_tokens"]).alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget source mixing: each source gets a fixed token budget; the
# keep-RATE that hits it is derived from the per-source token total, then
# applied as the usual stateless hash gate.  This is how a 100 TB mixture
# is actually tuned — you cannot "take the first N tokens" of a
# distributed corpus (that is a global order), but rate = budget / total
# followed by a deterministic per-row gate needs only one aggregate pass
# and one stateless filter pass.  Scale: the rate table is |sources| rows
# (a corpus constant, like `nation`) — broadcast by construction, NOT a
# data-scaling build side.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 20_000

_BUDGET_ORACLE = f"""
WITH d AS (
  SELECT source, doc_id, {sql_ws_token_count('text')} AS n_tok,
         {sql_stable_hash32("'budg|' || cast(doc_id AS VARCHAR)")} % 1000 AS gate
  FROM documents
), totals AS (
  SELECT source, cast(sum(n_tok) AS BIGINT) AS src_tokens FROM d GROUP BY 1
), rates AS (
  SELECT source, src_tokens,
         least(1000, cast(floor(1000.0 * {_BUDGET_TOKENS} / src_tokens) AS BIGINT)) AS rate_milli
  FROM totals
)
SELECT d.source AS source, rates.src_tokens AS src_tokens,
       rates.rate_milli AS rate_milli,
       count(*) FILTER (WHERE d.gate < rates.rate_milli) AS n_selected,
       cast(coalesce(sum(n_tok) FILTER (WHERE d.gate < rates.rate_milli), 0) AS BIGINT) AS selected_tokens
FROM d JOIN rates ON d.source = rates.source
GROUP BY 1, 2, 3
"""


@register("docs_token_budget_mix", _BUDGET_ORACLE, tags=("llm", "sample", "agg"))
def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        ws_token_count(F.col("text")).alias("n_tok"),
        (stable_hash32(F.concat(F.lit("budg|"), F.col("doc_id").cast("string"))) % 1000).alias("gate"),
    )
    rates = (
        d.groupBy("source")
        .agg(F.sum("n_tok").alias("src_tokens"))
        .select(
            "source",
            "src_tokens",
            F.least(
                F.lit(1000).cast("long"),
                F.floor(F.lit(1000.0) * _BUDGET_TOKENS / F.col("src_tokens")).cast("long"),
            ).alias("rate_milli"),
        )
    )
    sel = F.col("gate") < F.col("rate_milli")
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source", "src_tokens", "rate_milli")
        .agg(
            F.count(F.when(sel, 1)).alias("n_selected"),
            F.coalesce(F.sum(F.when(sel, F.col("n_tok"))), F.lit(0)).alias("selected_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Train/val/test split manifest: the split assignment is a pure function
# of doc_id (hash mod 1000 → 98/1/1), so any worker, any engine, any day
# reproduces the same membership with zero coordination — the property a
# split must have when the corpus is rewritten or backfilled.  The
# manifest (per-split per-lang doc and token counts) is the audit object.
# Scale: stateless projection + one map-side-combining aggregate.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH d AS (
  SELECT lang, {sql_ws_token_count('text')} AS n_tok,
         {sql_stable_hash32("'split|' || cast(doc_id AS VARCHAR)")} % 1000 AS gate
  FROM documents
)
SELECT CASE WHEN gate < 980 THEN 'train' WHEN gate < 990 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS n_docs, cast(sum(n_tok) AS BIGINT) AS total_tokens
FROM d GROUP BY 1, 2
"""


@register("docs_train_split_manifest", _SPLIT_ORACLE, tags=("llm", "sample", "agg"))
def docs_train_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    gate = stable_hash32(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 1000
    split = (
        F.when(gate < 980, "train").when(gate < 990, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "lang",
            ws_token_count(F.col("text")).alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )


# ---------------------------------------------------------------------------
# Per-group winsorization: clamp doc length to each language's exact
# [p05, p95] and report the clipped-tail counts and winsorized mean — the
# outlier-capping pass run before any length-sensitive mixing decision.
# Boundaries are rounded to 6 dp BEFORE clamping so both engines clamp to
# identical doubles; the winsorized mean uses the exact scaled-long trick
# (functions/numeric.py) so the parallel and serial sums agree bitwise.
# Scale: boundary table is |langs| rows (broadcast by construction);
# exact percentile needs a per-lang sort ONCE over values only — at
# 100 TB you'd swap `percentile` for `approx_percentile` and keep the
# identical downstream plan.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = f"""
WITH b AS (
  SELECT lang,
         round(quantile_cont(n_chars, 0.05), 6) AS p05,
         round(quantile_cont(n_chars, 0.95), 6) AS p95
  FROM documents GROUP BY 1
)
SELECT d.lang AS lang, b.p05 AS p05, b.p95 AS p95,
       count(*) FILTER (WHERE d.n_chars < b.p05) AS n_clipped_low,
       count(*) FILTER (WHERE d.n_chars > b.p95) AS n_clipped_high,
       {sql_exact_avg('least(greatest(cast(d.n_chars AS DOUBLE), b.p05), b.p95)')} AS winsorized_mean
FROM documents d JOIN b ON d.lang = b.lang
GROUP BY 1, 2, 3
"""


@register("docs_winsorize_chars_per_lang", _WINSOR_ORACLE, tags=("llm", "agg"))
def docs_winsorize_chars_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .groupBy("lang", "p05", "p95")
        .agg(
            F.count(F.when(F.col("n_chars") < F.col("p05"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("n_chars") > F.col("p95"), 1)).alias("n_clipped_high"),
            exact_avg(clamped).alias("winsorized_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup overlap matrix: which ingest sources copy from
# each other — the LSH pair list annotated with each side's source and
# rolled up per unordered source pair.  This is the audit that decides
# "drop source B, it's 80% mirror of A" before burning tokens on both.
# Scale: pair list is LSH-sized (near-linear), the two doc_id→source
# lookups are shuffle equi-joins on doc_id (or map-side if documents is
# bucketed by doc_id — sources/bucketed.py); the rollup output is at
# most |sources|² rows.
# ---------------------------------------------------------------------------

_XSRC_ORACLE = f"""
WITH pairs AS ({{lsh}}),
ann AS (
  SELECT da.source AS sa, db.source AS sb FROM pairs
  JOIN documents da ON pairs.doc_a = da.doc_id
  JOIN documents db ON pairs.doc_b = db.doc_id
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       count(*) AS n_near_dup_pairs
FROM ann GROUP BY 1, 2
"""


@register(
    "dedup_cross_source_overlap",
    _XSRC_ORACLE.format(lsh=_LSH_ORACLE),
    tags=("llm", "dedup", "agg"),
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ann = (
        pairs.join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
    )
    return (
        ann.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_near_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling via priority keys (Duffield/Thorup/Alon "priority
# sampling"): each doc draws priority = u / weight with u uniform; the N
# SMALLEST priorities form a sample whose inclusion probability is
# proportional to weight.  All-integer arithmetic (hash32 scaled, floor
# division) so Spark and the oracle — and any two production runs — pick
# the identical sample; float pow/log variants are not replay-safe across
# libm builds.  Scale: stateless projection + TakeOrdered top-N — no
# shuffle beyond the final N-row merge.
# ---------------------------------------------------------------------------

_WPS_ORACLE = f"""
SELECT doc_id, source, n_chars, priority FROM (
  SELECT doc_id, source, n_chars,
         ({sql_stable_hash32("'wps|' || cast(doc_id AS VARCHAR)")} * 1000000)
           // greatest(n_chars, 1) AS priority
  FROM documents
) ORDER BY priority, doc_id LIMIT 100
"""


@register("docs_weighted_priority_sample", _WPS_ORACLE, tags=("llm", "sample"))
def docs_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pri = F.expr(
        "(conv(substr(md5(concat('wps|', cast(doc_id as string))), 1, 8), 16, 10) * 1000000)"
        " div greatest(n_chars, 1)"
    )
    return (
        docs.select("doc_id", "source", "n_chars", pri.cast("long").alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val split: the split that makes held-out evaluation
# honest.  A doc-level random split leaks — a near-duplicate of a val doc
# lands in train and the model "generalizes" to its own training data.
# The unit of assignment must be the near-dup CLUSTER: every doc in a
# cluster goes to the same side, so NO near-dup pair straddles the split
# (structural: split is a function of cluster_id).  ~10% of CLUSTERS go
# to val via a salted hash gate on the cluster id — deterministic,
# engine-independent, and stable under re-runs (adding new docs to a
# cluster cannot flip its side).
#
# Scale: clusters = the existing CC fixpoint; the split is a stateless
# hash projection on the cluster label — zero additional shuffles beyond
# the cluster computation itself.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH clu AS ({_CC_ORACLE}),
assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {sql_stable_hash32("'split|' || cast(cluster_id AS VARCHAR)")} % 10 = 0
              THEN 'val' ELSE 'train' END AS split
  FROM clu
)
SELECT a.doc_id, a.cluster_id, a.split,
       {sql_ws_token_count('d.text')} AS n_tokens
FROM assigned a JOIN documents d ON d.doc_id = a.doc_id
"""


@register(
    "docs_cluster_safe_split",
    _SPLIT_ORACLE,
    tags=("llm", "curation", "dedup", "sampling"),
)
def docs_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-granular train/val split (~10% of clusters to
    val): no near-dup pair can straddle the split by construction.

    The inline ``dedup_near_dup_clusters`` call keeps this query
    self-contained for the gate; at scale the cluster table is a
    PERSISTED input (materialized once by the dedup job), read here —
    the LSH+CC pipeline is never recomputed per consumer."""
    docs = load(spark, sf_dir, "documents")
    clu = dedup_near_dup_clusters(spark, sf_dir)
    assigned = clu.select(
        "doc_id",
        "cluster_id",
        F.when(
            stable_hash32(
                F.concat(F.lit("split|"), F.col("cluster_id").cast("string"))
            )
            % 10
            == 0,
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return assigned.join(docs, "doc_id").select(
        "doc_id", "cluster_id", "split", ws_token_count(F.col("text")).alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Dedup yield report — the per-source KPI table a data team reviews after
# every pipeline run: raw docs/tokens → survivors of EXACT dedup (sha256
# canonical per digest, corpus-wide) → survivors of NEAR-DUP collapse
# (CC-canonical per cluster), with token yields at each stage.  A source
# whose near-dup yield craters is a template farm; one whose exact yield
# craters is a mirror.  Composes three verified pieces (sha256 dedup, the
# LSH pair join, the CC fixpoint) into one report — each stage's
# canonical set is corpus-wide, attributed back to the source of the
# surviving doc (the reference semantics for "who keeps the copy":
# smallest doc_id wins, same as both dedup queries).
#
# Scale: one sha-groupBy, the banded pair join, the CC fixpoint, then
# source-keyed sums with map-side combine — nothing here a 100 TB run
# doesn't already pay for its dedup passes; the report is O(#sources).
# ---------------------------------------------------------------------------

_YIELD_ORACLE = f"""
WITH clu AS ({_CC_ORACLE}),
toks AS (
  SELECT doc_id, source, {sql_ws_token_count('text')} AS n_tokens,
         sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
  FROM documents
),
exact_keep AS (
  SELECT digest, min(doc_id) AS keep_doc FROM toks GROUP BY digest
),
near_keep AS (
  SELECT cluster_id, min(doc_id) AS keep_doc FROM clu GROUP BY cluster_id
)
SELECT t.source,
       cast(count(*) AS BIGINT) AS raw_docs,
       cast(sum(t.n_tokens) AS BIGINT) AS raw_tokens,
       cast(sum(CASE WHEN e.keep_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS exact_docs,
       cast(sum(CASE WHEN e.keep_doc = t.doc_id THEN t.n_tokens ELSE 0 END) AS BIGINT) AS exact_tokens,
       cast(sum(CASE WHEN n.keep_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS neardup_docs,
       cast(sum(CASE WHEN n.keep_doc = t.doc_id THEN t.n_tokens ELSE 0 END) AS BIGINT) AS neardup_tokens
FROM toks t
JOIN exact_keep e ON e.digest = t.digest
JOIN clu c ON c.doc_id = t.doc_id
JOIN near_keep n ON n.cluster_id = c.cluster_id
GROUP BY t.source
ORDER BY t.source
"""


@register(
    "corpus_dedup_yield_report",
    _YIELD_ORACLE,
    tags=("llm", "dedup", "curation", "agg"),
)
def corpus_dedup_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup yield: raw → exact-dedup → near-dup-collapse,
    docs and tokens at each stage (canonical = min doc_id, corpus-wide).

    The inline ``dedup_near_dup_clusters`` call keeps this query
    self-contained for the gate; at scale the cluster table is a
    PERSISTED input (materialized once by the dedup job), read here —
    the LSH+CC pipeline is never recomputed per consumer."""
    from event_streaming_spark.functions.hashing import normalize_text

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        ws_token_count(F.col("text")).alias("n_tokens"),
        F.sha2(normalize_text(F.col("text")), 256).alias("digest"),
    )
    exact_keep = toks.groupBy("digest").agg(F.min("doc_id").alias("e_keep"))
    clu = dedup_near_dup_clusters(spark, sf_dir)
    near_keep = clu.groupBy("cluster_id").agg(F.min("doc_id").alias("n_keep"))
    j = (
        toks.join(exact_keep, "digest")
        .join(clu, "doc_id")
        .join(near_keep, "cluster_id")
    )
    keep_e = (F.col("e_keep") == F.col("doc_id")).cast("long")
    keep_n = (F.col("n_keep") == F.col("doc_id")).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("raw_docs"),
            F.sum("n_tokens").cast("long").alias("raw_tokens"),
            F.sum(keep_e).alias("exact_docs"),
            F.sum(keep_e * F.col("n_tokens")).cast("long").alias("exact_tokens"),
            F.sum(keep_n).alias("neardup_docs"),
            F.sum(keep_n * F.col("n_tokens")).cast("long").alias("neardup_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Doc-level curation LINEAGE: for EVERY document, the decision the
# end-to-end pipeline made and why — 'dup_near' (not its near-dup
# cluster's canonical), 'low_quality' (fails the alpha-ratio/token band),
# 'sampled_out' (lost the deterministic sample gate), or 'kept'.  The
# audit a production pipeline ships next to the curated corpus: "why is
# my document not in the training set" answered per doc_id, with the
# canonical it was collapsed into.  Same stage predicates AND precedence
# as corpus_curation_end_to_end, so count(status='kept') per lang equals
# that query's n_docs by construction.
#
# The inline dedup_near_dup_clusters call keeps this self-contained for
# the gate; at scale the cluster table is a PERSISTED input (materialized
# once by the dedup job) — the LSH+CC pipeline is never recomputed per
# consumer.  The rest is one stateless projection per doc: O(corpus),
# no added shuffle beyond the cluster join.
# ---------------------------------------------------------------------------

_LINEAGE_ORACLE = f"""
WITH q AS (
  SELECT d.doc_id, l.cluster_id,
         {_CUR_QF['alpha_ratio']} AS ar,
         {_CUR_QF['n_tokens']} AS nt,
         {sql_stable_hash32("'cur|' || cast(d.doc_id AS VARCHAR)")} % 1000 AS gate
  FROM documents d JOIN ({_CC_ORACLE}) l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id AS canonical_id,
       CASE WHEN doc_id <> cluster_id THEN 'dup_near'
            WHEN NOT (ar >= 0.6 AND nt BETWEEN 5 AND 5000) THEN 'low_quality'
            WHEN gate >= 900 THEN 'sampled_out'
            ELSE 'kept' END AS status,
       cast(nt AS BIGINT) AS n_tokens
FROM q ORDER BY doc_id
"""


@register(
    "corpus_curation_lineage",
    _LINEAGE_ORACLE,
    tags=("llm", "dedup", "pipeline", "audit"),
)
def corpus_curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clu = dedup_near_dup_clusters(spark, sf_dir)
    feats = _quality_features(F.col("text"))
    gate = stable_hash32(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))) % 1000
    quality_ok = (feats["alpha_ratio"] >= 0.6) & feats["n_tokens"].between(5, 5000)
    return (
        docs.join(clu, "doc_id")
        .select(
            "doc_id",
            F.col("cluster_id").alias("canonical_id"),
            F.when(F.col("doc_id") != F.col("cluster_id"), F.lit("dup_near"))
            .when(~quality_ok, F.lit("low_quality"))
            .when(gate >= 900, F.lit("sampled_out"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            feats["n_tokens"].cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the near-dup graph — the DENSITY
# clustering complement of connected components: CC merges anything
# reachable (one spurious pair chains two cliques together); LPA's
# mode-of-neighbors update keeps densely-connected groups while weak
# bridges flip to the majority side.  Three SYNCHRONIZED rounds with a
# deterministic tie-break (most frequent neighbor label, ties → smallest
# label; isolated nodes keep their own), so both engines replay the
# exact fixpoint prefix and the driver's hash pins every round.
# Scale: each round is one edge-sized join + a (node, label)-sized
# count + a top-1 rank — the same per-round cost envelope as a CC round,
# with a fixed round budget instead of convergence detection.
# ---------------------------------------------------------------------------


def _lpa_oracle() -> str:
    from event_streaming_spark.plans.llm_similarity import _LSH_ORACLE

    round_cte = """
, l{r} AS (
  SELECT d.doc_id AS node,
         coalesce(w.label, l{p}.label) AS label
  FROM documents d
  JOIN l{p} ON l{p}.node = d.doc_id
  LEFT JOIN (
    SELECT node, label FROM (
      SELECT b.src AS node, lp.label,
             row_number() OVER (
               PARTITION BY b.src
               ORDER BY count(*) DESC, lp.label) AS rn
      FROM bidir b JOIN l{p} lp ON lp.node = b.dst
      GROUP BY b.src, lp.label
    ) WHERE rn = 1
  ) w ON w.node = d.doc_id
)"""
    rounds = "".join(round_cte.format(r=r, p=r - 1) for r in (1, 2, 3))
    return f"""
WITH edges AS (
  SELECT doc_a, doc_b FROM ({_LSH_ORACLE})
), bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM edges
), l0 AS (
  SELECT doc_id AS node, doc_id AS label FROM documents
){rounds}
SELECT node AS doc_id, label AS community FROM l3 ORDER BY doc_id
"""


@register(
    "graph_label_propagation_communities",
    _lpa_oracle(),
    tags=("llm", "dedup", "graph", "iterative"),
)
def graph_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    edges = minhash_lsh_near_dup_pairs(spark, sf_dir)
    bidir = materialize(symmetrized(edges, "doc_a", "doc_b").distinct(), name="lpa-edges")

    def step(labels: DataFrame, _rnd: int) -> Round:
        votes = (
            bidir.join(labels, bidir.dst == labels.node)
            .groupBy(F.col("src"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("label"))
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("node"), F.col("label").alias("wlabel"))
        )
        return Round(
            labels.join(winner, "node", "left").select(
                "node", F.coalesce("wlabel", "label").alias("label")
            )
        )

    labels = iterate(
        "lpa-labels",
        docs.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("label")),
        step,
        max_rounds=3,
        bound="contract",
    )
    return materialize(labels, name="lpa-labels").select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Split-leakage audit — the measurement that JUSTIFIES the cluster-safe
# split above: take the near-dup pair list and count how many pairs
# straddle (a) the naive per-document hash split (the
# docs_train_split_manifest gate, 98/1/1) and (b) the cluster-granular
# split (docs_cluster_safe_split's gate).  The naive count is the val/
# test contamination a doc-hash split silently ships; the cluster-safe
# count is structurally ZERO — and this audit proves it on the same pair
# list rather than asserting it.
#
# Scale: the pair list and cluster table are the persisted outputs of
# the dedup job; both split gates are stateless hash projections joined
# onto pair endpoints — two broadcast-shaped joins and one rollup.
# ---------------------------------------------------------------------------

_LEAK_ORACLE = f"""
WITH pairs AS ({_LSH_ORACLE}),
clu AS ({_CC_ORACLE}),
naive AS (
  SELECT doc_id,
         CASE WHEN {sql_stable_hash32("'split|' || cast(doc_id AS VARCHAR)")} % 1000 < 980
              THEN 'train' ELSE 'heldout' END AS nsplit
  FROM documents
), safe AS (
  SELECT doc_id,
         CASE WHEN {sql_stable_hash32("'split|' || cast(cluster_id AS VARCHAR)")} % 10 = 0
              THEN 'val' ELSE 'train' END AS csplit
  FROM clu
), tagged AS (
  SELECT p.doc_a, p.doc_b,
         na.nsplit AS na_s, nb.nsplit AS nb_s,
         ca.csplit AS ca_s, cb.csplit AS cb_s
  FROM pairs p
  JOIN naive na ON na.doc_id = p.doc_a
  JOIN naive nb ON nb.doc_id = p.doc_b
  JOIN safe  ca ON ca.doc_id = p.doc_a
  JOIN safe  cb ON cb.doc_id = p.doc_b
)
SELECT count(*) AS n_near_dup_pairs,
       cast(count(*) FILTER (WHERE na_s <> nb_s) AS BIGINT) AS naive_crossing,
       cast(CASE WHEN count(*) > 0
                 THEN (count(*) FILTER (WHERE na_s <> nb_s)) * 1000000 // count(*)
                 ELSE 0 END AS BIGINT) AS naive_leak_ppm,
       cast(count(*) FILTER (WHERE ca_s <> cb_s) AS BIGINT) AS clustersafe_crossing
FROM tagged
"""


@register(
    "docs_split_leakage_audit",
    _LEAK_ORACLE,
    tags=("llm", "curation", "dedup", "audit"),
)
def docs_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs straddling the naive doc-hash split vs the
    cluster-granular split (the latter provably 0 on the same pairs)."""
    from event_streaming_spark.plans.llm_similarity import minhash_lsh_near_dup_pairs

    pairs = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    ngate = (
        stable_hash32(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))) % 1000
    )
    naive = docs.select(
        "doc_id",
        F.when(ngate < 980, "train").otherwise("heldout").alias("nsplit"),
    )
    clu = dedup_near_dup_clusters(spark, sf_dir)
    safe = clu.select(
        "doc_id",
        F.when(
            stable_hash32(
                F.concat(F.lit("split|"), F.col("cluster_id").cast("string"))
            )
            % 10
            == 0,
            "val",
        )
        .otherwise("train")
        .alias("csplit"),
    )
    na = naive.select(F.col("doc_id").alias("doc_a"), F.col("nsplit").alias("na_s"))
    nb = naive.select(F.col("doc_id").alias("doc_b"), F.col("nsplit").alias("nb_s"))
    ca = safe.select(F.col("doc_id").alias("doc_a"), F.col("csplit").alias("ca_s"))
    cb = safe.select(F.col("doc_id").alias("doc_b"), F.col("csplit").alias("cb_s"))
    tagged = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
    )
    cross_n = F.count(F.when(F.col("na_s") != F.col("nb_s"), 1))
    return tagged.agg(
        F.count(F.lit(1)).alias("n_near_dup_pairs"),
        cross_n.alias("naive_crossing"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.expr(
                "count(CASE WHEN na_s <> nb_s THEN 1 END) * 1000000"
                " div count(*)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("naive_leak_ppm"),
        F.count(F.when(F.col("ca_s") != F.col("cb_s"), 1)).alias(
            "clustersafe_crossing"
        ),
    )
