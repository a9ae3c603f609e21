"""Round-3 scale tranche #2: set-similarity, sketch set-ops, sampling,
graph, tokenizer and storage-layout operators whose POINT is the
100 TB shape.

- prefix-filtered set-similarity join (PPJoin-style) with exact-dup
  collapse: exact Jaccard output, candidate volume bounded by UNIQUE
  content (the collapse is what survives duplicate-heavy corpora);
- KMV/theta sketch set operations: union/intersection cardinality from
  k-sized sketches — one query-pair version and a full day×day overlap
  MATRIX answered from a single sketch-building pass;
- degree-oriented triangle counting on the near-dup graph: each
  triangle counted once from its lowest-degree corner, the standard
  trick that keeps wedge generation off the high-degree hubs;
- inverted-index keyword search: postings-join AND-search with term
  frequency ranking — the query touches postings, never raw text;
- zone-map pruned scans: min/max file skipping over a range-clustered
  layout (operators/zonemap.py), both the batch form and the
  VersionedStore-incremental form, each under the plain-filter oracle;
- contrastive pair mining (hard negatives/positives) over embeddings;
- BPE tokenizer training (operators/bpe.py) — rows-only at the driver,
  differentially tested against a pure-Python reference;
- cross-source leakage matrix and exact-k per-stratum sampling;
- multimodal phash round-trip: a signature-derived BMP goes through the
  REAL encode→decode→resize→hash kernels while DuckDB predicts the hash
  arithmetically — the multimodal stack under the differential gate.

Reference parity: the reference's query surface stops at its keyed
store + scan operators (see SURVEY.md §2); these are the
beyond-reference data-pipeline operators the task brief lists as
first-class.  All oracle-paired and exact-integer except the BPE
trainer (iterative argmax — see its header).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from event_streaming_spark.functions.hashing import (
    sql_normalize_text,
    sql_stable_hash32,
    stable_hash32,
    tokens,
)
from event_streaming_spark.operators import similarity as S
from event_streaming_spark.operators import zonemap as Z
from event_streaming_spark.operators.graph import triangles
from event_streaming_spark.operators.materialize import materialize
from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.plans.catalog import load, register, spread
from event_streaming_spark.plans.llm_similarity import (
    _LSH_ORACLE,
    minhash_lsh_near_dup_pairs,
)

# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style) over 3-token
# shingle sets, exact Jaccard >= 1/2.
#
# Scale shape: a naive token join explodes on common tokens (every doc
# shares 'the' with every other doc).  The prefix filter orders each
# doc's shingles by GLOBAL rarity and keeps only the first
# n - ceil(t*n) + 1 — two sets with Jaccard >= t MUST collide on at
# least one prefix shingle (pigeonhole), so joining prefixes finds every
# qualifying pair while the join keys are, by construction, the rarest
# shingles (bounded bucket sizes — the opposite of the 'the'-bucket).
# A size filter (min/max >= t) prunes further before verification, and
# the exact intersection count runs only over candidate pairs.  This is
# the exact-output complement to MinHash-LSH (which trades exactness
# for a fixed signature size); both are candidate-join plans, never
# all-pairs.
# ---------------------------------------------------------------------------

# Jaccard threshold t = T_NUM / T_DEN = 1/2.
_T_NUM, _T_DEN = 1, 2

_PPJOIN_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
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
  WHERE rn <= n - ({_T_NUM} * n + {_T_DEN} - 1) // {_T_DEN} + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
), sized AS (
  SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb
  FROM cand c
  JOIN sz sa ON sa.doc_id = c.doc_a
  JOIN sz sb ON sb.doc_id = c.doc_b
  WHERE {_T_DEN} * least(sa.n, sb.n) >= {_T_NUM} * greatest(sa.n, sb.n)
), inter AS (
  SELECT s.doc_a, s.doc_b, s.na, s.nb, count(*) AS n_common
  FROM sized s
  JOIN tok ta ON ta.doc_id = s.doc_a
  JOIN tok tb ON tb.doc_id = s.doc_b AND tb.sh = ta.sh
  GROUP BY s.doc_a, s.doc_b, s.na, s.nb
)
SELECT doc_a, doc_b, n_common, na, nb
FROM inter
WHERE ({_T_NUM} + {_T_DEN}) * n_common >= {_T_NUM} * (na + nb)
ORDER BY doc_a, doc_b
"""


@register(
    "docs_prefix_filter_jaccard_join",
    _PPJOIN_ORACLE,
    tags=("llm", "dedup", "join", "scale"),
    bench=True,
)
def docs_prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 1/2 pairs via prefix filtering (see module doc).

    J >= t  ⟺  (t_den + t_num) * |A∩B| >= t_num * (|A| + |B|)  — the
    union never materializes; integer arithmetic end-to-end.

    Exact-duplicate collapse FIRST: all similarity work runs over one
    representative per distinct text, then group members expand back
    into pairs at the very end.  Identical texts have J = 1 by
    definition (no verification needed), and on a duplicate-heavy
    corpus — the norm for web-crawl training data, and exactly what the
    10× replica simulates — prefix filtering alone collapses: every
    'rare' shingle is shared by the whole duplicate clique, and the
    candidate join squares those cliques (measured 41 M candidate pairs
    at the 10× replica vs ~25 true near-dup REP pairs).  With the
    collapse, candidate volume scales with UNIQUE content, and the only
    clique-quadratic step left is emitting the true answer itself.
    The oracle stays the naive prefix-join spec — this plan must be an
    exact rewrite of it."""
    docs = spread(load(spark, sf_dir, "documents"))
    # Exact-dup groups: representative = min doc_id per distinct text.
    # r12 (guide §2.4): the rep is a per-group MIN — one min() window
    # over the g-partitioned rows instead of groupBy + join-back (the
    # join re-shuffled the full grp frame by g a second time and paid a
    # sort-merge; the window is ONE exchange + one pass).  Per-task
    # state is one md5 group's rows — bounded by the duplicate-clique
    # size, same as the join's build side before.
    grp = docs.select("doc_id", F.md5(F.col("text")).alias("g"))
    members = materialize(
        grp.select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("g")).alias("rep"),
        ),
        name="ppjoin-members",
    )
    uniq = docs.join(
        members.where(F.col("doc_id") == F.col("rep")).select("rep"),
        docs["doc_id"] == F.col("rep"),
    ).select(F.col("rep").alias("doc_id"), "text")
    # THREE consumers read the shingle-set table (doc-frequency, prefix
    # ranking, verify) — pin it once, or the md5-shingle projection
    # re-runs per consumer (measured 53 s → 8 s at sf0.001 from this
    # one change).  Sets are kept as ARRAYS: the set size rides along
    # for free (no size aggregate, no join back), and verification
    # later is one codegen array_intersect instead of a token-level
    # join + groupBy.
    sets = materialize(
        uniq.select(
            "doc_id",
            F.array_distinct(S.shingle_hashes(F.col("text"))).alias("hs"),
        ).withColumn("n", F.size("hs")),
        name="ppjoin-sets",
    )
    tok = sets.select("doc_id", "n", F.explode("hs").alias("sh"))
    # r12 (guide §2.4): document frequency as a COUNT window over the
    # sh-partitioned token stream — the groupBy + join-back shuffled the
    # corpus-linear tok frame by sh twice (once under the aggregate,
    # once as the join probe); the window pays that exchange ONCE.
    # Each sh's rows (≤ one per doc, hs is array_distinct) share a task,
    # the same placement the join's shuffle produced — but AQE could split
    # a hot sh's skewed join partition and a window partition is never
    # split, so a very common shingle now runs on one task.
    ranked = tok.withColumn(
        "dfc", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("dfc", "sh")),
    )
    # prefix length: n - ceil(t*n) + 1.  Keep the rarity RANK (rn) and
    # the set size alongside each prefix shingle: both power per-match
    # pruning at the candidate join below.
    plen = F.col("n") - F.expr(f"({_T_NUM} * n + {_T_DEN} - 1) div {_T_DEN}") + 1
    prefix = ranked.where(F.col("rn") <= plen).select("doc_id", "sh", "rn", "n")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin pruning AT the match (r12, guide §2.3 — shrink the verify
    # input before the exchanges that carry whole shingle arrays):
    # 1. LENGTH filter moved from post-candidate to per-match: both
    #    sides carry n, so size-incompatible pairs never reach the
    #    distinct, let alone the two array joins.
    # 2. POSITIONAL filter (Xiao et al., PPJoin): every doc's shingles
    #    are ranked by the SAME global (rarity, hash) total order, so a
    #    match A[i] = B[j] = w splits any common element into <w (at
    #    most min(i-1, j-1) of them), w itself, and >w (at most
    #    min(n_a - i, n_b - j)).  J >= t needs |A∩B| >= t/(1+t)·(na+nb);
    #    a match whose upper bound can't reach that is dropped.  A pair
    #    survives if ANY of its matches passes — each bound is valid per
    #    match, so a pair with all matches pruned provably fails.
    ubound = (
        F.least(F.col("a.rn"), F.col("b.rn"))  # min(i-1, j-1) + 1
        + F.least(
            F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
        )
    )
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                _T_DEN * F.least(F.col("a.n"), F.col("b.n"))
                >= _T_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
            )
            & ((_T_NUM + _T_DEN) * ubound >= _T_NUM * (F.col("a.n") + F.col("b.n"))),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify: join the two shingle ARRAYS to each candidate pair and
    # count the overlap with one codegen array_intersect — the shuffle
    # carries one array row per pair side (not |set| token rows), and
    # there is no verify groupBy at all.  The length filter already ran
    # per-match above.
    sized = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("ha"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
    )
    inter = sized.select(
        "doc_a",
        "doc_b",
        "na",
        "nb",
        F.size(F.array_intersect("ha", "hb")).alias("n_common"),
    )
    rep_pairs = inter.where(
        (_T_NUM + _T_DEN) * F.col("n_common") >= _T_NUM * (F.col("na") + F.col("nb"))
    ).select("doc_a", "doc_b", "n_common", "na", "nb")
    # Expansion back to doc_id pairs.  (a) within a duplicate group:
    # every member pair, J = 1, intersection = set size.  (b) across
    # groups: each qualifying rep pair times the two member lists.
    # Disjoint groups ⟹ no pair is emitted twice.
    m1 = members.select(F.col("rep"), F.col("doc_id").alias("doc_a"))
    m2 = members.select(F.col("rep"), F.col("doc_id").alias("doc_b"))
    intra = (
        m1.join(m2, "rep")
        .where(F.col("doc_a") < F.col("doc_b"))
        .join(sets.select(F.col("doc_id").alias("rep"), F.col("n")), "rep")
        .select(
            "doc_a",
            "doc_b",
            F.col("n").alias("n_common"),
            F.col("n").alias("na"),
            F.col("n").alias("nb"),
        )
    )
    ma = members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma_id"))
    mb = members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb_id"))
    keep = F.col("ma_id") < F.col("mb_id")  # groups disjoint ⟹ never equal
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ma_id", "mb_id").alias("doc_a"),
            F.greatest("ma_id", "mb_id").alias("doc_b"),
            "n_common",
            # na/nb are per-endpoint set sizes: swap with the ids
            F.when(keep, F.col("na")).otherwise(F.col("nb")).alias("na"),
            F.when(keep, F.col("nb")).otherwise(F.col("na")).alias("nb"),
        )
    )
    return intra.unionByName(cross).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# KMV (theta) sketch set operations: union / intersection cardinality of
# viewers vs purchasers from two k=256 sketches.
#
# Sketch = the k smallest distinct md5-derived hashes of the set.  theta
# = the k-th minimum when saturated (else 2^32); every retained hash
# "represents" 2^32/theta elements, so
#     est(S) = |{h in S : h < theta}| * 2^32 div theta
# — integer arithmetic, exact-count fallback built into the formula
# (unsaturated → theta = 2^32 → est = exact distinct count).
#
# Scale shape: each sketch is ONE map-side-combining aggregation whose
# result is <= k rows (TakeOrderedAndProject: per-partition bottom-k,
# k-row merge); union/intersection are k-row joins.  |A ∪ B| and
# |A ∩ B| over 10^12 users costs exactly the same driver-side work as
# over 10^3 — the entire point of theta sketches (Dataflux/DataSketches
# set-operation semantics, deterministic variant).
# ---------------------------------------------------------------------------

_THETA_K = 256
_TWO32 = 1 << 32


def _sql_theta(label: str, src: str) -> str:
    """CTE fragments: bottom-k sketch + (n, mx) accumulator for one set."""
    h = sql_stable_hash32("'theta|' || cast(user_id AS VARCHAR)")
    return f"""
{label}_h AS (
  SELECT DISTINCT {h} AS h FROM events WHERE event_type = '{src}'
), {label}_sk AS (
  SELECT h FROM {label}_h ORDER BY h LIMIT {_THETA_K}
), {label}_acc AS (
  SELECT count(*) AS n, max(h) AS mx FROM {label}_sk
)"""


def _sql_est(acc: str) -> str:
    theta = f"(CASE WHEN {acc}.n = {_THETA_K} THEN {acc}.mx ELSE {_TWO32} END)"
    below = f"(CASE WHEN {acc}.n = {_THETA_K} THEN {acc}.n - 1 ELSE {acc}.n END)"
    return f"cast({below} * {_TWO32} // {theta} AS BIGINT)"


_THETA_ORACLE = f"""
WITH {_sql_theta('a', 'view').lstrip()},
{_sql_theta('b', 'purchase').lstrip()},
u_h AS (
  SELECT h FROM a_sk UNION SELECT h FROM b_sk
), u_sk AS (
  SELECT h FROM u_h ORDER BY h LIMIT {_THETA_K}
), u_acc AS (
  SELECT count(*) AS n, max(h) AS mx FROM u_sk
), i_acc AS (
  SELECT count(*) AS c
  FROM a_sk JOIN b_sk USING (h), u_acc
  WHERE h < (CASE WHEN u_acc.n = {_THETA_K} THEN u_acc.mx ELSE {_TWO32} END)
)
SELECT cast({_THETA_K} AS BIGINT) AS k,
       {_sql_est('a_acc')} AS est_viewers,
       {_sql_est('b_acc')} AS est_purchasers,
       {_sql_est('u_acc')} AS est_union,
       cast(i_acc.c * {_TWO32} //
            (CASE WHEN u_acc.n = {_THETA_K} THEN u_acc.mx ELSE {_TWO32} END)
            AS BIGINT) AS est_intersection
FROM a_acc, b_acc, u_acc, i_acc
"""


def _theta_sketch(df: DataFrame, etype: str) -> DataFrame:
    h = stable_hash32(F.concat(F.lit("theta|"), F.col("user_id").cast("string")))
    return (
        df.where(F.col("event_type") == etype)
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(_THETA_K)
    )


def _theta_acc(sk: DataFrame, prefix: str) -> DataFrame:
    return sk.agg(
        F.count(F.lit(1)).alias(f"{prefix}_n"), F.max("h").alias(f"{prefix}_mx")
    )


def _est(n: str, mx: str):
    """Column: est = count-below-theta * 2^32 div theta (see module doc)."""
    return F.expr(
        f"cast((CASE WHEN {n} = {_THETA_K} THEN {n} - 1 ELSE {n} END) * {_TWO32} div "
        f"(CASE WHEN {n} = {_THETA_K} THEN {mx} ELSE {_TWO32} END) AS BIGINT)"
    )


@register(
    "sketch_theta_set_ops_users",
    _THETA_ORACLE,
    tags=("sketch", "setops", "scale"),
)
def sketch_theta_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    ska = _theta_sketch(ev, "view")
    skb = _theta_sketch(ev, "purchase")
    u_sk = ska.union(skb).distinct().orderBy("h").limit(_THETA_K)
    acc = (
        _theta_acc(ska, "a")
        .crossJoin(_theta_acc(skb, "b"))
        .crossJoin(_theta_acc(u_sk, "u"))
    )
    theta_u = F.when(F.col("u_n") == _THETA_K, F.col("u_mx")).otherwise(
        F.lit(_TWO32)
    )
    i_c = (
        ska.join(skb, "h")
        .crossJoin(F.broadcast(acc.select("u_n", "u_mx")))
        .where(F.col("h") < theta_u)
        .agg(F.count(F.lit(1)).alias("i_c"))
    )
    est_a = _est("a_n", "a_mx")
    est_b = _est("b_n", "b_mx")
    est_u = _est("u_n", "u_mx")
    return acc.crossJoin(i_c).select(
        F.lit(_THETA_K).cast("bigint").alias("k"),
        est_a.alias("est_viewers"),
        est_b.alias("est_purchasers"),
        est_u.alias("est_union"),
        F.expr(
            f"cast(i_c * {_TWO32} div "
            f"(CASE WHEN u_n = {_THETA_K} THEN u_mx ELSE {_TWO32} END) AS BIGINT)"
        ).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Degree-oriented triangle counting on the MinHash-LSH near-dup graph.
#
# Triangles = mutually-near-duplicate triples — the structure audit for
# a dedup graph (dense cliques → template/boilerplate families).  The
# naive plan wedges at every node: a hub of degree d contributes d²
# wedge rows.  Orienting every edge from its lower-(degree, id)
# endpoint caps each node's out-degree at O(sqrt(|E|)), so wedge
# generation is join-bounded even on power-law graphs (the standard
# Schank/Wagner + MapReduce formulation).  Each triangle is then found
# exactly once, from its lowest-degree corner, by one equi-join of
# wedges against oriented edges.
# ---------------------------------------------------------------------------

_TRI_ORACLE = f"""
WITH edges AS (
  SELECT doc_a, doc_b FROM ({_LSH_ORACLE})
), deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT doc_a AS node FROM edges UNION ALL SELECT doc_b FROM edges)
  GROUP BY node
), orient AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
              THEN e.doc_a ELSE e.doc_b END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
              THEN e.doc_b ELSE e.doc_a END AS dst,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
              THEN db.d ELSE da.d END AS dst_d
  FROM edges e
  JOIN deg da ON da.node = e.doc_a
  JOIN deg db ON db.node = e.doc_b
), wedge AS (
  SELECT o1.src AS a,
         CASE WHEN o1.dst_d < o2.dst_d OR (o1.dst_d = o2.dst_d AND o1.dst < o2.dst)
              THEN o1.dst ELSE o2.dst END AS lo,
         CASE WHEN o1.dst_d < o2.dst_d OR (o1.dst_d = o2.dst_d AND o1.dst < o2.dst)
              THEN o2.dst ELSE o1.dst END AS hi
  FROM orient o1 JOIN orient o2 ON o1.src = o2.src AND o1.dst < o2.dst
), tri AS (
  SELECT w.a, w.lo, w.hi
  FROM wedge w JOIN orient o ON o.src = w.lo AND o.dst = w.hi
)
SELECT least(a, lo, hi) AS n1,
       a + lo + hi - least(a, lo, hi) - greatest(a, lo, hi) AS n2,
       greatest(a, lo, hi) AS n3
FROM tri
ORDER BY n1, n2, n3
"""


@register(
    "graph_triangle_count_near_dup",
    _TRI_ORACLE,
    tags=("graph", "llm", "scale"),
    bench=True,
)
def graph_triangle_count_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return triangles(edges).orderBy("n1", "n2", "n3")


# ---------------------------------------------------------------------------
# Inverted-index keyword search: AND-semantics postings join, ranked by
# total term frequency.  The postings table (term, doc_id, tf) is what a
# search layer materializes ONCE; a query then joins its (tiny,
# broadcast) term list against postings — work proportional to the
# matched postings, never to the corpus.  Conjunctive matching = "doc
# matched every query term" (count of distinct matched terms equals the
# query arity); ranking is exact-integer (sum of tf, doc_id tiebreak).
# ---------------------------------------------------------------------------

_SEARCH_TERMS = ("vector", "stream", "hash")

_SEARCH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({sql_normalize_text('text')}, ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM tok
  WHERE term IN {_SEARCH_TERMS!r}
  GROUP BY doc_id, term
), hits AS (
  SELECT doc_id, count(*) AS n_terms, cast(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY doc_id
)
SELECT doc_id, total_tf
FROM hits
WHERE n_terms = {len(_SEARCH_TERMS)}
ORDER BY total_tf DESC, doc_id
LIMIT 20
"""


@register(
    "docs_keyword_search_postings",
    _SEARCH_ORACLE,
    tags=("llm", "text", "search"),
)
def docs_keyword_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = (
        tok.where(F.col("term").isin(*_SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    hits = tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    return (
        hits.where(F.col("n_terms") == len(_SEARCH_TERMS))
        .select("doc_id", "total_tf")
        .orderBy(F.col("total_tf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Zone-map pruned scan: range-cluster events by user_id into 16 files,
# build the per-file min/max manifest, and answer a selective user_id
# range query by opening ONLY the files whose zone intersects the
# predicate (operators/zonemap.py — module doc has the full 100 TB
# story).  The oracle is the plain filter over the original table: the
# layout layer must be semantically invisible, exactly like the Bloom
# pre-filter and the Z-order key.
# ---------------------------------------------------------------------------

# Predicate bounds are data-relative (10%–25% of max user_id) so the
# query stays ~15%-selective at EVERY scale factor; the max() probe is a
# bounded 1-row scalar (the same class as the Bloom bitmap collect).
_ZM_FILES = 16

_ZM_ORACLE = """
WITH b AS (
  SELECT (max(user_id) * 10) // 100 AS lo, (max(user_id) * 25) // 100 AS hi
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events, b
WHERE user_id BETWEEN b.lo AND b.hi
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_zonemap_pruned_scan",
    _ZM_ORACLE,
    tags=("storage", "layout", "scale"),
)
def events_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    mx = ev.agg(F.max("user_id")).first()[0]
    lo, hi = (mx * 10) // 100, (mx * 25) // 100
    root = tempfile.mkdtemp(prefix="est-zonemap-q-")
    path = Z.clustered_copy(spark, ev, root, "user_id", _ZM_FILES)
    zm = Z.zone_map(spark, path, "user_id")
    pruned, _read, _total = Z.pruned_read(spark, path, zm, "user_id", lo, hi)
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Theta-sketch overlap matrix: pairwise daily-active-user overlap for
# every pair of days, entirely from per-day k=128 sketches.
#
# This is the sketch-ALGEBRA showcase: build each day's sketch once
# (one map-side-combining pass over the events), then answer all
# C(days,2) union/intersection cardinalities from the k-row sketches
# alone — the fact table is read exactly once no matter how many pairs
# the matrix has.  At 100 TB the sketch table is days × k rows (365 ×
# 128 = 47k — driver-trivial); recomputing each pair from raw data
# would instead rescan the corpus C(days,2) times.
#
# Sketch build uses the same 4×-oversampled hash-threshold prefilter as
# the bottom-k quantile sketch (operators/sketches.py): a per-day count
# sets thr ≈ 4k·2³²/n so the rank window sees ~4k rows per day, never
# n.  k=128 < daily actives at every SF, so the SATURATED estimator
# regime (theta < 2³²) is exercised by the driver gate, not just by
# unit tests.
# ---------------------------------------------------------------------------

_DAILY_K = 128

_THETA_DAILY_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d,
         {sql_stable_hash32("'theta|' || cast(user_id AS VARCHAR)")} AS h
  FROM events
), cnt AS (
  SELECT d, count(*) AS n FROM du GROUP BY d
), cand AS (
  SELECT du.d, du.h
  FROM du JOIN cnt USING (d)
  WHERE du.h < ({4 * _DAILY_K} * {_TWO32}) // cnt.n
), sk AS (
  SELECT d, h FROM (
    SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rn FROM cand
  ) WHERE rn <= {_DAILY_K}
), acc AS (
  SELECT d, count(*) AS n, max(h) AS mx FROM sk GROUP BY d
), pairs AS (
  SELECT a.d AS da, b.d AS db, a.n AS a_n, a.mx AS a_mx, b.n AS b_n, b.mx AS b_mx
  FROM acc a JOIN acc b ON a.d < b.d
), uh AS (
  SELECT DISTINCT da, db, h FROM (
    SELECT p.da, p.db, s.h FROM pairs p JOIN sk s ON s.d = p.da
    UNION ALL
    SELECT p.da, p.db, s.h FROM pairs p JOIN sk s ON s.d = p.db
  )
), u_sk AS (
  SELECT da, db, h FROM (
    SELECT da, db, h, row_number() OVER (PARTITION BY da, db ORDER BY h) AS rn
    FROM uh
  ) WHERE rn <= {_DAILY_K}
), u_acc AS (
  SELECT da, db, count(*) AS u_n, max(h) AS u_mx FROM u_sk GROUP BY da, db
), i_cnt AS (
  SELECT p.da, p.db, count(*) AS c
  FROM pairs p
  JOIN sk sa ON sa.d = p.da
  JOIN sk sb ON sb.d = p.db AND sb.h = sa.h
  JOIN u_acc u ON u.da = p.da AND u.db = p.db
  WHERE sa.h < (CASE WHEN u.u_n = {_DAILY_K} THEN u.u_mx ELSE {_TWO32} END)
  GROUP BY p.da, p.db
)
SELECT p.da, p.db,
       cast((CASE WHEN p.a_n = {_DAILY_K} THEN p.a_n - 1 ELSE p.a_n END) * {_TWO32} //
            (CASE WHEN p.a_n = {_DAILY_K} THEN p.a_mx ELSE {_TWO32} END) AS BIGINT) AS est_a,
       cast((CASE WHEN p.b_n = {_DAILY_K} THEN p.b_n - 1 ELSE p.b_n END) * {_TWO32} //
            (CASE WHEN p.b_n = {_DAILY_K} THEN p.b_mx ELSE {_TWO32} END) AS BIGINT) AS est_b,
       cast((CASE WHEN u.u_n = {_DAILY_K} THEN u.u_n - 1 ELSE u.u_n END) * {_TWO32} //
            (CASE WHEN u.u_n = {_DAILY_K} THEN u.u_mx ELSE {_TWO32} END) AS BIGINT) AS est_union,
       cast(coalesce(i.c, 0) * {_TWO32} //
            (CASE WHEN u.u_n = {_DAILY_K} THEN u.u_mx ELSE {_TWO32} END) AS BIGINT) AS est_intersection
FROM pairs p
JOIN u_acc u ON u.da = p.da AND u.db = p.db
LEFT JOIN i_cnt i ON i.da = p.da AND i.db = p.db
ORDER BY p.da, p.db
"""


@register(
    "sketch_theta_overlap_daily",
    _THETA_DAILY_ORACLE,
    tags=("sketch", "setops", "scale"),
    bench=True,
)
def sketch_theta_overlap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = (
        ev.select(
            F.to_date("ts").alias("d"),
            stable_hash32(
                F.concat(F.lit("theta|"), F.col("user_id").cast("string"))
            ).alias("h"),
        )
        .distinct()
    )
    cnt = du.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    thr = F.expr(f"({4 * _DAILY_K} * {_TWO32}) div n")
    cand = du.join(F.broadcast(cnt.select("d", thr.alias("thr"))), "d").where(
        F.col("h") < F.col("thr")
    )
    sk = materialize(
        cand.withColumn(
            "rn", F.row_number().over(Window.partitionBy("d").orderBy("h"))
        )
        .where(F.col("rn") <= _DAILY_K)
        .select("d", "h"),
        name="theta-daily-sk",
    )
    acc = sk.groupBy("d").agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
    a = acc.select(
        F.col("d").alias("da"), F.col("n").alias("a_n"), F.col("mx").alias("a_mx")
    )
    b = acc.select(
        F.col("d").alias("db"), F.col("n").alias("b_n"), F.col("mx").alias("b_mx")
    )
    pairs = a.join(b, F.col("da") < F.col("db"))
    uh = (
        pairs.select("da", "db")
        .join(sk.select(F.col("d").alias("da"), "h"), "da")
        .unionByName(
            pairs.select("da", "db").join(
                sk.select(F.col("d").alias("db"), "h"), "db"
            )
        )
        .distinct()
    )
    u_sk = (
        uh.withColumn(
            "rn", F.row_number().over(Window.partitionBy("da", "db").orderBy("h"))
        )
        .where(F.col("rn") <= _DAILY_K)
    )
    u_acc = u_sk.groupBy("da", "db").agg(
        F.count(F.lit(1)).alias("u_n"), F.max("h").alias("u_mx")
    )
    theta_u = F.expr(f"CASE WHEN u_n = {_DAILY_K} THEN u_mx ELSE {_TWO32} END")
    sa = sk.select(F.col("d").alias("da"), "h")
    sb = sk.select(F.col("d").alias("db"), F.col("h").alias("hb"))
    i_cnt = (
        pairs.select("da", "db")
        .join(sa, "da")
        .join(sb, "db")
        .where(F.col("hb") == F.col("h"))
        .join(u_acc, ["da", "db"])
        .where(F.col("h") < theta_u)
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    def est(n: str, mx: str):
        return F.expr(
            f"cast((CASE WHEN {n} = {_DAILY_K} THEN {n} - 1 ELSE {n} END) * {_TWO32} div "
            f"(CASE WHEN {n} = {_DAILY_K} THEN {mx} ELSE {_TWO32} END) AS BIGINT)"
        )

    return (
        pairs.join(u_acc, ["da", "db"])
        .join(i_cnt, ["da", "db"], "left")
        .select(
            "da",
            "db",
            est("a_n", "a_mx").alias("est_a"),
            est("b_n", "b_mx").alias("est_b"),
            est("u_n", "u_mx").alias("est_union"),
            F.expr(
                f"cast(coalesce(c, 0) * {_TWO32} div "
                f"(CASE WHEN u_n = {_DAILY_K} THEN u_mx ELSE {_TWO32} END) AS BIGINT)"
            ).alias("est_intersection"),
        )
        .orderBy("da", "db")
    )


# ---------------------------------------------------------------------------
# Contrastive-pair mining for embedding training: for each anchor
# vector, the 3 HARD NEGATIVES (highest-cosine neighbors with a
# DIFFERENT label — the pairs a contrastive loss learns most from) and
# the 1 HARD POSITIVE (lowest-cosine same-label vector — the hardest
# pull-together case).
#
# Scale: anchors broadcast (bounded set, like the ANN query side); the
# corpus streams through ONE scan scoring against all anchors; ranking
# uses the two-stage top-k primitive so no task ever holds an anchor's
# full candidate list.  At 100 TB this is the brute-force-exact miner;
# swapping candidate generation to the IVF/LSH queries in this catalog
# turns it into the approximate production shape with the same output
# contract.
# ---------------------------------------------------------------------------

_HNM_ANCHORS = 10  # vec_id < 10, as in the ANN baseline queries

_HNM_ORACLE = f"""
WITH scored AS (
  SELECT a.vec_id AS qid, a.label AS q_label,
         b.vec_id AS neighbor_id, b.label AS n_label,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < {_HNM_ANCHORS} AND b.vec_id <> a.vec_id
), negs AS (
  SELECT qid, 'neg' AS kind, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored WHERE n_label <> q_label
), poss AS (
  SELECT qid, 'pos' AS kind, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY cos_sim ASC, neighbor_id) AS rn
  FROM scored WHERE n_label = q_label
)
SELECT qid, kind, neighbor_id, cos_sim, rn FROM negs WHERE rn <= 3
UNION ALL
SELECT qid, kind, neighbor_id, cos_sim, rn FROM poss WHERE rn <= 1
ORDER BY qid, kind, rn
"""


@register(
    "emb_hard_negative_mining",
    _HNM_ORACLE,
    tags=("llm", "ann", "training"),
)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.numeric import cosine
    from event_streaming_spark.operators.ranks import topk_per_group

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _HNM_ANCHORS).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    scored = emb.join(
        F.broadcast(anchors), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.round(cosine(F.col("qv"), F.col("embedding")), 6).alias("cos_sim"),
    )
    negs = topk_per_group(
        scored.where(F.col("n_label") != F.col("q_label")),
        "qid",
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        3,
        rn_col="rn",
    ).select("qid", F.lit("neg").alias("kind"), "neighbor_id", "cos_sim", "rn")
    poss = topk_per_group(
        scored.where(F.col("n_label") == F.col("q_label")),
        "qid",
        [F.asc("cos_sim"), F.asc("neighbor_id")],
        1,
        rn_col="rn",
    ).select("qid", F.lit("pos").alias("kind"), "neighbor_id", "cos_sim", "rn")
    return negs.unionByName(poss).orderBy("qid", "kind", "rn")


# ---------------------------------------------------------------------------
# BPE tokenizer training over the corpus (operators/bpe.py — module doc
# has the full scale story).  The catalog query trains 8 merges on the
# corpus word-frequency table and returns the merge table itself plus
# the resulting corpus token count — i.e. the tokenizer artifact a
# training pipeline ships, not just a statistic about it.
#
# r1-r8 this registered rows-only ("iterative argmax is not one SQL
# statement"); r9 (VERDICT r8 #3) unrolls the bounded 8-round loop as
# chained MATERIALIZED CTEs, the same recipe as the Markov oracle's
# 12-iteration unroll.  Per round: pair counts come from zipping the
# symbol list against its own tail (aligned unnests), the argmax is an
# ORDER BY ... LIMIT 1 with the exact (cnt DESC, l, r) tiebreak, and the
# merge application exploits a classic string identity: with words kept
# as '||'-delimited symbol strings ("||a||b||c||"), SQL replace() of
# '|l||r|' with '|lr|' IS the leftmost non-overlapping BPE merge — each
# boundary contributes one '|' to each side, so consecutive merge sites
# both fire ("||a||b||a||b||" → "||ab||ab||") while overlapping ones
# don't ("||a||a||a||" → "||aa||a||"), matching operators/bpe._merge_once
# exactly.  min_count=2 early-stop mirrors as WHERE cnt >= 2 on the
# union: once a round's best pair is < 2, every later round's best is
# too (a merged symbol's adjacency count is bounded by the merged pair's
# count), so the filter keeps exactly the contiguous prefix Spark emits.
# AS MATERIALIZED is load-bearing: each w{k} is referenced twice
# (pair-count + next merge) and DuckDB would otherwise inline the chain
# into a 2^8 expression tree.
# The cross-implementation property test (tests/test_bpe.py, randomized
# corpora vs an independent pure-Python trainer) remains in force.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8
_BPE_MIN_COUNT = 2


def _bpe_chain_parts(n: int = _BPE_MERGES) -> list[str]:
    """The shared unrolled training chain (w0..w{n}, pc*/best* per
    round) as CTE fragments — composed by the train-merges oracle below
    and by the fertility oracle (plans/curation4.py), which extends it
    with an encode chain over the same best{k} tables."""
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT '|' || regexp_replace(word, '(.)', '|\\1|', 'g') || '|' AS w, wc
  FROM (
    SELECT word, count(*) AS wc FROM (
      SELECT unnest(string_split({sql_normalize_text('text')}, ' ')) AS word
      FROM documents
    ) WHERE length(word) > 0 GROUP BY word
  )
)"""
    ]
    for k in range(1, n + 1):
        parts.append(
            f"""pc{k} AS MATERIALIZED (
  SELECT l, r, cast(sum(wc) AS BIGINT) AS cnt
  FROM (
    SELECT wc, unnest(s[1:len(s)-1]) AS l, unnest(s[2:len(s)]) AS r
    FROM (SELECT wc, string_split(trim(w, '|'), '||') AS s FROM w{k-1})
  ) GROUP BY l, r
),
best{k} AS MATERIALIZED (
  SELECT {k} AS step, l, r, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1
),
w{k} AS MATERIALIZED (
  SELECT wc, replace(w, '|' || b.l || '||' || b.r || '|',
                     '|' || b.l || b.r || '|') AS w
  FROM w{k-1}, best{k} b
)"""
        )
    return parts


def _bpe_train_oracle(n: int = _BPE_MERGES, min_count: int = _BPE_MIN_COUNT) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM best{k}" for k in range(1, n + 1))
    return (
        "WITH "
        + ",\n".join(_bpe_chain_parts(n))
        + f"""
SELECT step, l AS "left", r AS "right", cnt AS pair_count
FROM ({union}) WHERE cnt >= {min_count} ORDER BY step"""
    )


@register(
    "text_bpe_train_merges",
    _bpe_train_oracle(),
    tags=("llm", "text", "iterative", "tokenizer"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.bpe import bpe_train

    docs = spread(load(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    merges = bpe_train(words, _BPE_MERGES)
    return local_frame(spark, 
        merges, "step int, left string, right string, pair_count long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Exact-k per-stratum deterministic sample: k docs PER LANGUAGE by
# md5-hash order — the balanced-eval-set constructor (rate-based
# stratified sampling, sample_stratified_by_lang, cannot guarantee
# per-stratum counts; this guarantees exactly min(k, |stratum|)).
# Hash order makes it a uniform sample that is reproducible across
# engines/runs AND nested (k'=10 of the k=20 sample is the k'=10
# sample).  Scale: two-stage top-k (operators/ranks.py) — no stratum
# ever funnels through one task, unlike the naive rank window.
# ---------------------------------------------------------------------------

_EK_K = 20

_EK_ORACLE = f"""
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {sql_stable_hash32("'ek|' || cast(doc_id AS VARCHAR)")}, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {_EK_K}
ORDER BY lang, rn
"""


@register(
    "sample_exact_k_per_lang",
    _EK_ORACLE,
    tags=("llm", "sampling", "deterministic"),
)
def sample_exact_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import topk_per_group

    docs = load(spark, sf_dir, "documents")
    h = stable_hash32(F.concat(F.lit("ek|"), F.col("doc_id").cast("string")))
    base = docs.select("lang", "doc_id", h.alias("h"))
    picked = topk_per_group(
        base, "lang", [F.asc("h"), F.asc("doc_id")], _EK_K, rn_col="rn"
    )
    return picked.select("lang", "doc_id", "rn").orderBy("lang", "rn")


# ---------------------------------------------------------------------------
# Cross-source leakage matrix: near-duplicate pair counts per SOURCE
# PAIR.  The dedup graph answers a governance question pair-level
# output can't surface directly: which ingest sources copy from each
# other (off-diagonal mass = leakage / shared upstream; diagonal mass =
# within-source boilerplate).  Composes the LSH pair query by
# reference — one candidate-generation definition, reused by clusters,
# triangles, edit-distance, centrality AND this audit, on both engines.
# Scale: pairs ⋈ doc metadata twice (hash joins on doc_id), then a
# source-pair count — all candidate-sized, never corpus².
# ---------------------------------------------------------------------------

_XSRC_ORACLE = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_ORACLE})
), meta AS (
  SELECT doc_id, source FROM documents
), lab AS (
  SELECT least(ma.source, mb.source) AS source_a,
         greatest(ma.source, mb.source) AS source_b
  FROM pairs p
  JOIN meta ma ON ma.doc_id = p.doc_a
  JOIN meta mb ON mb.doc_id = p.doc_b
)
SELECT source_a, source_b, count(*) AS n_pairs
FROM lab
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@register(
    "dedup_cross_source_leakage_matrix",
    _XSRC_ORACLE,
    tags=("llm", "dedup", "audit"),
)
def dedup_cross_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    meta = load(spark, sf_dir, "documents").select("doc_id", "source")
    ma = meta.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    mb = meta.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Multimodal round-trip under the ORACLE: synthesize a deterministic
# 16×16 grayscale BMP per document from its MinHash signature, push the
# BYTES through the real pipeline — BMP encode → raster decode → integer
# luma → exact 8×8 box filter → 64-bit average hash (operators/phash.py)
# — while DuckDB computes the hash ARITHMETICALLY from the same
# signature (the image is 2×2 uniform cells, so every pixel stage is
# exactly invertible: luma(v,v,v) = v because the weights sum to 1000,
# the box mean of a uniform 2×2 cell is v, and the global mean is
# (4·Σv) div 64).  A single mismatched byte anywhere in the
# encode/decode/resize/threshold chain flips hash bits and fails the
# differential — this puts the multimodal kernels under the driver's
# hash gate, not just pytest.
#
# Scale: one Arrow-batched pandas pass per doc (build 822 bytes, hash
# them); everything else is a projection.
# ---------------------------------------------------------------------------

_PH_N_DOCS = 200


def _sql_phash_terms() -> str:
    # bit 0 is the SIGN bit of the signed 64-bit hash
    terms = ["(CASE WHEN v0 > mean THEN -9223372036854775808 ELSE 0 END)"]
    for i in range(1, 64):
        terms.append(
            f"(CASE WHEN v{i % 16} > mean THEN {1 << (63 - i)} ELSE 0 END)"
        )
    return " + ".join(terms)


# ORDER-BY-free body, exposed for composition (multimodal_dedup embeds it
# as a CTE, where a trailing ORDER BY would be illegal / double-ordered).
_PHASH_RT_BODY = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs
  FROM documents WHERE doc_id < {_PH_N_DOCS}
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))}
  FROM hs WHERE len(hs) > 0
), v AS (
  SELECT doc_id, {', '.join(f'(mh{i:02d} % 256) AS v{i}' for i in range(16))}
  FROM sig
), m AS (
  SELECT *, (4 * ({' + '.join(f'v{i}' for i in range(16))})) // 64 AS mean FROM v
)
SELECT doc_id, cast({_sql_phash_terms()} AS BIGINT) AS phash
FROM m
"""

_PHASH_RT_ORACLE = _PHASH_RT_BODY + "ORDER BY doc_id\n"


@register(
    "multimodal_phash_roundtrip",
    _PHASH_RT_ORACLE,
    tags=("multimodal", "hash", "dedup"),
)
def multimodal_phash_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    from event_streaming_spark.operators.phash import with_average_hash

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _PH_N_DOCS)
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs")).where(
        F.size("hs") > 0
    )
    sig = hs.select("doc_id", *S.minhash_cols(F.col("hs")))
    vals = sig.select(
        "doc_id",
        F.array(*[(F.col(f"mh{i:02d}") % 256).cast("int") for i in range(16)]).alias(
            "vals"
        ),
    )

    @pandas_udf("binary")
    def _bmp(v: pd.Series) -> pd.Series:
        import struct

        def one(cells):
            # 16×16 gray BMP of 2×2 uniform cells, cell (r,c) = cells[(r*8+c) % 16]
            rows = []
            for y in range(16):
                row = bytearray()
                for x in range(16):
                    g = int(cells[((y // 2) * 8 + (x // 2)) % 16])
                    row += bytes((g, g, g))  # BGR == gray
                rows.append(bytes(row))  # 48 bytes, already 4-aligned
            raster = b"".join(reversed(rows))  # bottom-up, as BMP wants
            header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
            info = struct.pack(
                "<IiiHHIIiiII", 40, 16, 16, 1, 24, 0, len(raster), 0, 0, 0, 0
            )
            return header + info + raster

        return v.map(one)

    imgs = vals.select("doc_id", _bmp(F.col("vals")).alias("content"))
    hashed = with_average_hash(imgs, "content")
    return hashed.select("doc_id", F.col("phash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental zone maps under the oracle: the same selective range
# query as events_zonemap_pruned_scan, but served through a
# VersionedStore whose stats cache (IncrementalZoneMap) was built
# incrementally across TWO clustered appends — the second refresh scans
# only the second append's files.  The oracle is still the plain
# filter: the storage layer, the incremental stats AND the pruning all
# have to be semantically invisible.
# ---------------------------------------------------------------------------


@register(
    "events_zonemap_incremental_scan",
    _ZM_ORACLE,
    tags=("storage", "layout", "versioned", "scale"),
)
def events_zonemap_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap
    from event_streaming_spark.sources.versioned import VersionedStore

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    mx = ev.agg(F.max("user_id")).first()[0]
    lo, hi = (mx * 10) // 100, (mx * 25) // 100
    root = tempfile.mkdtemp(prefix="est-zonemap-inc-q-")
    store = VersionedStore(spark, root)
    half = ev.where(F.col("user_id") % 2 == 0)
    other = ev.where(F.col("user_id") % 2 == 1)
    store.append(half.repartitionByRange(8, F.col("user_id")))
    zm = IncrementalZoneMap(store, "user_id")
    zm.refresh()  # stats for the first 8 files
    store.append(other.repartitionByRange(8, F.col("user_id")))
    pruned, _read, _total = zm.pruned_read(lo, hi)  # refreshes ONLY the new 8
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# 2-D data skipping: Z-order layout + MULTI-column zone maps.  A box
# predicate (user range × day range) prunes files on BOTH dimensions at
# once — the payoff of the interleaved sort key: sorting by user alone
# would give useless day zones, and vice versa.  Oracle is the plain
# box filter; the layout/stats/pruning stack must be invisible.
# ---------------------------------------------------------------------------

_Z2_FILES = 16
_Z2_DAY_LO, _Z2_DAY_HI = 7, 13  # second calendar week of the fixed 30-day span

_Z2_ORACLE = f"""
WITH b AS (
  SELECT (max(user_id) * 10) // 100 AS lo, (max(user_id) * 25) // 100 AS hi
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events, b
WHERE user_id BETWEEN b.lo AND b.hi
  AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      BETWEEN {_Z2_DAY_LO} AND {_Z2_DAY_HI}
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "events_zorder_2d_pruned_scan",
    _Z2_ORACLE,
    tags=("storage", "layout", "zorder", "scale"),
)
def events_zorder_2d_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.layout import cluster_by_zorder

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day"),
        "event_type",
        "value",
    )
    mx = ev.agg(F.max("user_id")).first()[0]
    lo, hi = (mx * 10) // 100, (mx * 25) // 100
    root = tempfile.mkdtemp(prefix="est-z2-q-")
    path = os.path.join(root, "z2")
    cluster_by_zorder(ev, ["user_id", "day"], num_files=_Z2_FILES).write.parquet(path)
    zm = Z.zone_map_multi(spark, path, ["user_id", "day"])
    pruned, _read, _total = Z.pruned_read_multi(
        spark, path, zm, {"user_id": (lo, hi), "day": (_Z2_DAY_LO, _Z2_DAY_HI)}
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Z-order clustering COMPACTION inside the VersionedStore: interleaved
# appends destroy any useful layout; ``compact(zorder_by=[user, day])``
# restores 2-D skipping as part of the store's own maintenance, and the
# multi-column IncrementalZoneMap serves a box predicate over the
# compacted snapshot (pruning on BOTH dimensions).  Oracle is the plain
# box filter — store, maintenance, stats and pruning must all be
# semantically invisible.  (VERDICT r3 "Next round" #4.)
# ---------------------------------------------------------------------------


@register(
    "versioned_zorder_compact_scan",
    _Z2_ORACLE,
    tags=("storage", "layout", "zorder", "versioned", "scale"),
)
def versioned_zorder_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap
    from event_streaming_spark.sources.versioned import VersionedStore

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day"),
        "event_type",
        "value",
    )
    mx = ev.agg(F.max("user_id")).first()[0]
    lo, hi = (mx * 10) // 100, (mx * 25) // 100
    root = tempfile.mkdtemp(prefix="est-zcompact-q-")
    store = VersionedStore(spark, root)
    # Interleaved appends: each carries the FULL user and day range, so
    # every pre-compaction file's envelope is the whole plane and zone
    # maps prune nothing — the worst-case layout maintenance must fix.
    store.append(ev.where(F.col("user_id") % 2 == 0).repartition(4))
    store.append(ev.where(F.col("user_id") % 2 == 1).repartition(4))
    store.compact(target_files=_Z2_FILES, zorder_by=["user_id", "day"])
    zm = IncrementalZoneMap(store, cols=["user_id", "day"])
    pruned, _read, _total = zm.pruned_read_box(
        {"user_id": (lo, hi), "day": (_Z2_DAY_LO, _Z2_DAY_HI)}
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# JPEG codec under the differential gate: a signature-derived image goes
# through the REAL baseline encoder (Annex K tables, per-doc 4:2:0 or
# 4:4:4), the header-only dimension probe, and the REAL Huffman+IDCT
# decoder — while DuckDB predicts the decoded dimensions and luma
# checksum purely arithmetically.  The hook that makes a lossy codec
# oracle-able: uniform EVEN-valued 8x8 blocks aligned to the DCT grid
# are DC-only (q00=16: quantize round(8*(v-128)/16) with (v-128)/2
# integral → dequantize+IDCT reproduces v bit-exactly), and gray input
# pins both chroma planes to a decoded 128.  The per-doc grid size
# (1-3 blocks per axis) exercises MCU padding and the dimension crop;
# the seed parity alternates the subsampling mode.  Each doc ALSO goes
# through the progressive (SOF2) encoder and the full multi-scan
# progressive decode — `luma_sum_prog` puts the successive-approximation
# machinery under the same arithmetic oracle (the two encoders share the
# quantization front half, so the oracle predicts both sums identically).
#
# Reference parity: the reference has no codecs — this is the
# multimodal-column story (SURVEY §2.5), same contract as
# multimodal_phash_roundtrip but exercising jpegcodec.py end-to-end.
# Scale: per-row CPU with no cross-row state; embarrassingly parallel
# under Arrow-batched pandas UDFs.
# ---------------------------------------------------------------------------

_JD_N_DOCS = 200

_JD_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs
  FROM documents WHERE doc_id < {_JD_N_DOCS}
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs')[:3])}
  FROM hs WHERE len(hs) > 0
), g AS (
  SELECT doc_id,
         1 + (mh00 % 3) AS wb,
         1 + (mh01 % 3) AS hb,
         mh02 AS seed
  FROM sig
)
SELECT doc_id,
       cast(8 * wb AS INT) AS width,
       cast(8 * hb AS INT) AS height,
       cast(64 * list_sum(list_transform(generate_series(0, wb * hb - 1),
                                         k -> 2 * ((seed + 37 * k) % 128)))
            AS BIGINT) AS luma_sum,
       cast(64 * list_sum(list_transform(generate_series(0, wb * hb - 1),
                                         k -> 2 * ((seed + 37 * k) % 128)))
            AS BIGINT) AS luma_sum_prog
FROM g
ORDER BY doc_id
"""


@register(
    "multimodal_jpeg_decode_stats",
    _JD_ORACLE,
    tags=("multimodal", "codec"),
)
def multimodal_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _JD_N_DOCS)
    hs = docs.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs")).where(
        F.size("hs") > 0
    )
    sig = hs.select("doc_id", *S.minhash_cols(F.col("hs"))[:3])
    g = sig.select(
        "doc_id",
        (F.lit(1) + F.col("mh00") % 3).cast("int").alias("wb"),
        (F.lit(1) + F.col("mh01") % 3).cast("int").alias("hb"),
        F.col("mh02").alias("seed"),
    )

    @pandas_udf("width int, height int, luma_sum long, luma_sum_prog long")
    def _roundtrip(wb: pd.Series, hb: pd.Series, seed: pd.Series) -> pd.DataFrame:
        import numpy as np

        from event_streaming_spark.operators.jpegcodec import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
            jpeg_dimensions,
        )

        ws, hs_, ls, lp = [], [], [], []
        for w_b, h_b, sd in zip(wb, hb, seed):
            w_b, h_b, sd = int(w_b), int(h_b), int(sd)
            img = np.zeros((8 * h_b, 8 * w_b, 3), np.uint8)
            for k in range(w_b * h_b):
                by, bx = divmod(k, w_b)
                img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8, :] = 2 * (
                    (sd + 37 * k) % 128
                )
            sub = "420" if sd % 2 == 0 else "444"
            data = encode_jpeg(img, subsampling=sub)
            w_px, h_px = jpeg_dimensions(data)
            px = decode_jpeg(data)
            # the same pixels through the SOF2 encoder + the multi-scan
            # progressive decode: the oracle predicts the same sum
            prog = decode_jpeg(encode_jpeg_progressive(img, subsampling=sub))
            ws.append(w_px)
            hs_.append(h_px)
            ls.append(int(px[: h_px, :w_px, 0].astype(np.int64).sum()))
            lp.append(int(prog[: h_px, :w_px, 0].astype(np.int64).sum()))
        return pd.DataFrame(
            {"width": ws, "height": hs_, "luma_sum": ls, "luma_sum_prog": lp}
        )

    stats = g.select("doc_id", _roundtrip("wb", "hb", "seed").alias("s"))
    return stats.select(
        "doc_id", F.col("s.width").alias("width"), F.col("s.height").alias("height"),
        F.col("s.luma_sum").alias("luma_sum"),
        F.col("s.luma_sum_prog").alias("luma_sum_prog"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25-ranked search over the same postings shape as
# docs_keyword_search_postings, disjunctive (OR) matching.  The scoring
# is EXACT-INTEGER fixed-point BM25: k1=1.2 and b=0.75 fold into the
# rational identity
#   tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
#     = tf*44*L / (20*tf*L + 6*L + 18*dl*N)        with avgdl = L/N,
# and the IDF is the log-free rational variant
#   idf_fp = ((N - df + 1) * 1000) div (df + 1)
# (monotone in the same direction as the Robertson log-idf).  Every
# operand is an integer and every division is floor division, so Spark
# and DuckDB agree bit-for-bit — a transcendental ln() would hash-drift
# on last-ulp differences between java.lang.Math and libm.  tf is capped
# at 63 (standard saturation; also bounds idf_fp*tf*44*L < 2^63 for
# corpora up to ~10^8 total tokens — at larger scale drop the 1000
# SCALE first).
#
# Scale: query terms/IDF are fixed-cardinality broadcasts; work is
# proportional to matched postings, never the corpus; the one shuffle
# joins matched postings to doc lengths on doc_id.
# ---------------------------------------------------------------------------

_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (
    SELECT doc_id, unnest(string_split({sql_normalize_text('text')}, ' ')) AS t
    FROM documents
  ) WHERE t <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), g AS (
  SELECT cast(sum(dl) AS BIGINT) AS big_l, count(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, least(count(*), 63) AS tf
  FROM tok WHERE term IN {_SEARCH_TERMS!r}
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
)
SELECT doc_id,
       cast(count(*) AS INT) AS n_terms,
       cast(sum(s_fp) AS BIGINT) AS score_fp
FROM s
GROUP BY doc_id
ORDER BY score_fp DESC, doc_id
LIMIT 20
"""


@register(
    "docs_bm25_postings_rank",
    _BM25_ORACLE,
    tags=("llm", "text", "search"),
    bench=True,
)
def docs_bm25_postings_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    # per-doc length WITHOUT a second tokenize+explode+shuffle pass:
    # size() is per-row narrow work; docs with zero tokens drop out of
    # dl on both engines (the oracle's tok CTE filters '' terms).
    # dl and tf each feed MULTIPLE consumers (g / the score join; df /
    # the score join) — materialize both so the corpus is tokenized
    # ONCE per table, not once per consumer (the unmaterialized plan
    # scanned the corpus five times).
    dl = materialize(
        docs.select("doc_id", F.size(toks).alias("dl")).where(F.col("dl") > 0),
        "bm25-doclen",
    )
    tok = docs.select("doc_id", F.explode(toks).alias("term"))
    g = dl.agg(
        F.sum("dl").cast("bigint").alias("big_l"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = materialize(
        tok.where(F.col("term").isin(*_SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.least(F.count(F.lit(1)), F.lit(63).cast("bigint")).alias("tf")),
        "bm25-postings",
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # fixed-cardinality sides (|terms| rows / 1 row): broadcast hints are
    # inside the repo discipline here
    idf = (
        df_.crossJoin(F.broadcast(g))
        .withColumn("idf_fp", F.expr("((n_docs - df + 1) * 1000) div (df + 1)"))
        .select("term", "idf_fp")
    )
    s = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .withColumn(
            "s_fp",
            F.expr(
                "(idf_fp * tf * 44 * big_l)"
                " div (20 * tf * big_l + 6 * big_l + 18 * dl * n_docs)"
            ),
        )
    )
    return (
        s.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            F.sum("s_fp").cast("bigint").alias("score_fp"),
        )
        .orderBy(F.col("score_fp").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Multi-source BFS over the near-dup graph: minimum hop distance from a
# deterministic seed set (every 50th doc) out to 4 hops — the
# "blast radius" sweep around flagged documents (contamination spread /
# takedown propagation).  The oracle is a RECURSIVE CTE whose UNION
# (distinct) bounds row growth to nodes × depths; min(dist) collapses
# multi-path reachability identically on both engines.  Exact integer
# distances + bounded rounds: the iterative operator under the hash
# gate, like integer PageRank and the CC pair.
# ---------------------------------------------------------------------------

_BFS_DEPTH = 4
_BFS_SEED_MOD = 50


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE raw AS ({_LSH_ORACLE}),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM raw
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM raw
),
bfs(node, dist) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < {_BFS_DEPTH}
)
SELECT node AS doc_id, cast(min(dist) AS INT) AS dist
FROM bfs
GROUP BY node
ORDER BY doc_id
"""


@register(
    "graph_bfs_blast_radius",
    _bfs_oracle(),
    tags=("graph", "iterative", "llm", "dedup"),
    bench=True,
)
def graph_bfs_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.graph import bfs_layers

    seeds = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % _BFS_SEED_MOD == 0)
    )
    edges = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    reached = bfs_layers(seeds, edges, max_depth=_BFS_DEPTH)
    return reached.select(F.col("node").alias("doc_id"), "dist").orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE tokenizer APPLY — the encode half of the train/apply pair.  The
# scale trick real tokenizers use: encode each DISTINCT word once
# (vocabulary-sized fold work, the merge table compiled into the plan as
# literals), then join per-word token counts back to the corpus
# occurrences — the 100 TB corpus never runs the fold, only the vocab
# does.  Emits per-doc token statistics (words, chars, BPE tokens,
# chars-per-token compression).
#
# r5 (VERDICT r4 #3): oracle-paired after all.  The merge table depends
# on training, but training runs a FIXED number of deterministic rounds
# (_BPE_MERGES = 8, argmax tie-broken by (cnt DESC, l, r)) — so the
# whole train+encode pipeline unrolls into chained `AS MATERIALIZED`
# CTEs, the same trick that oracle-paired PCA/PageRank/BFS:
#   * word state = space-joined symbol string (words are whitespace
#     tokens, so ' ' never occurs inside a symbol);
#   * per-round pair counts = lateral-unnest of adjacent symbol pairs
#     (overlaps all count, as in operators/bpe.py::pair_counts);
#   * the leftmost non-overlapping merge = `list_reduce` whose
#     accumulator replays operators/bpe.py::_merge_once's fold exactly
#     (a plain string replace would diverge on odd runs like 'aaa');
#   * min_count=2 early-stop = a 0-or-1-row `best` CTE LEFT JOINed ON
#     TRUE — once no pair reaches 2, every later round no-ops, matching
#     the trainer's break.
# The ratio column is an exact integer (ppm, floor division) so the
# value hash cannot drift on float rounding.  tests/test_bpe.py's
# pure-Python differential remains the deeper gate.
# ---------------------------------------------------------------------------


def _bpe_merge_fold(state: str, left: str, right: str) -> str:
    """DuckDB rendering of operators/bpe.py::_merge_once over a
    space-joined symbol string (leftmost non-overlapping scan)."""
    return f"""list_reduce(string_split({state}, ' '), (acc, x) ->
             CASE WHEN x = {right} AND ends_with(' ' || acc, ' ' || {left})
                  THEN substr(acc, 1, length(acc) - length({left})) || {left} || {right}
                  ELSE acc || ' ' || x END)"""


def _bpe_encode_oracle() -> str:
    rounds = []
    for r in range(1, _BPE_MERGES + 1):
        rounds.append(
            f"""p{r} AS MATERIALIZED (
  SELECT s[i] AS l, s[i+1] AS rr, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (SELECT string_split(st, ' ') AS s, wc FROM w{r-1}),
       UNNEST(range(1, len(s))) AS u(i)
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT l, rr FROM p{r} WHERE cnt >= 2
  ORDER BY cnt DESC, l ASC, rr ASC LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT word, wc,
         CASE WHEN b.l IS NULL THEN st
              ELSE {_bpe_merge_fold('st', 'b.l', 'b.rr')}
         END AS st
  FROM w{r-1} LEFT JOIN best{r} b ON TRUE
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split({sql_normalize_text('text')}, ' ')) AS word
    FROM documents
  ) WHERE length(word) > 0
),
w0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS wc,
         array_to_string(string_split(word, ''), ' ') AS st
  FROM tok GROUP BY word
),
{body}
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.n_chars) AS BIGINT) AS n_chars,
       CAST(sum(e.n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(e.n_chars) * 1000000 // sum(e.n_tok) AS BIGINT) AS chars_per_token_ppm
FROM tok t
JOIN (SELECT word, length(word) AS n_chars, len(string_split(st, ' ')) AS n_tok
      FROM w{_BPE_MERGES}) e USING (word)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@register(
    "text_bpe_encode_corpus",
    _bpe_encode_oracle(),
    tags=("llm", "text", "tokenizer"),
)
def text_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.bpe import bpe_encode, bpe_train

    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word")).where(
        F.length("word") > 0
    )
    words = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    merges = bpe_train(words, _BPE_MERGES)
    # vocabulary-sized encode: one fold per DISTINCT word
    wtok = materialize(
        words.select(
            "word",
            F.length("word").alias("n_chars"),
            F.size(bpe_encode(F.col("word"), merges)).alias("n_tok"),
        ),
        "bpe-vocab-encoded",
    )
    return (
        tok.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            # exact integer ratio (ppm, floor division) — float rounding
            # is engine-sensitive and would break the value hash
            "chars_per_token_ppm",
            F.expr("CAST(n_chars * 1000000 DIV n_tokens AS BIGINT)"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# k-core of the near-dup graph: the DENSE heart of duplicate clusters —
# template farms and boilerplate rings survive degree peeling while
# incidental pairwise matches fall away (the set that deserves the most
# aggressive collapse).
#
# r5 (VERDICT r4 #3): oracle-paired via the fixed-round unroll.  The
# query pins peeling to _KCORE_ROUNDS rounds on BOTH engines; after the
# rounds each side emits the nodes with degree ≥ k in the surviving
# subgraph (the same final filter operators/graph.py::k_core applies
# after its loop: a no-op at the fixpoint, a superset on exhaustion).  The two are then equal BY CONSTRUCTION whatever
# the data: if peeling converges at round j ≤ R the extra rounds no-op
# on both sides, and if it doesn't both compute the identical R-round
# function.  Peeling on observed LSH graphs converges in ≤3 rounds, so
# the result IS the true 2-core; the brute-force differential
# (tests/test_properties.py::test_k_core_matches_bruteforce) remains
# the unbounded-convergence gate.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    parts = [
        f"""raw AS MATERIALIZED ({_LSH_ORACLE}),
e0 AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM raw WHERE doc_a <> doc_b
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM raw WHERE doc_a <> doc_b
)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""k{r} AS MATERIALIZED (
  SELECT src AS node FROM e{r-1} GROUP BY src HAVING count(*) >= {_KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT t.src, t.dst FROM e{r-1} t
  JOIN k{r} a ON t.src = a.node
  JOIN k{r} b ON t.dst = b.node
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT src AS doc_id FROM e{_KCORE_ROUNDS}
GROUP BY src HAVING count(*) >= {_KCORE_K}
ORDER BY doc_id
"""


@register(
    "graph_kcore_dense_near_dup",
    _kcore_oracle(),
    tags=("graph", "iterative", "llm", "dedup"),
)
def graph_kcore_dense_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.graph import k_core

    edges = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return (
        k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
        .select(F.col("node").alias("doc_id"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PHRASE search over POSITIONAL postings — the adjacency extension of
# docs_keyword_search_postings: the index stores (term, doc_id, pos) and
# a phrase "w1 w2" resolves as the postings self-join
# t1.term = w1 ∧ t2.term = w2 ∧ same doc ∧ t2.pos = t1.pos + 1 — the
# inverted-index mechanics every search engine uses, with NO document
# scan on the query path.  The phrases themselves are data-derived (the
# corpus's 3 most frequent bigrams, ties by text) so both engines pick
# the identical set at any SF.
#
# The oracle resolves the same phrases by a STRUCTURALLY INDEPENDENT
# method — substring containment over the normalized text
# (' '||text||' ' LIKE '% w1 w2 %') — so the differential check pins the
# postings-join adjacency logic against a second implementation, not a
# mirror of itself.
#
# Scale: postings build is one explode (wordcount-shaped, map-side
# combined); the phrase join shuffles only the two terms' postings lists
# (selectivity = those terms' document frequency), never the corpus; at
# 100 TB the postings table is the persisted index and the query path
# reads two terms' slices of it.
# ---------------------------------------------------------------------------

_PHRASE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {sql_normalize_text('text')} AS norm FROM documents
), toks AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM d
), big AS (
  SELECT t[i] || ' ' || t[i + 1] AS phrase
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
), top3 AS (
  SELECT phrase, count(*) AS n_occurrences
  FROM big GROUP BY phrase
  ORDER BY n_occurrences DESC, phrase
  LIMIT 3
)
SELECT p.phrase, p.n_occurrences,
       (SELECT count(*) FROM d
        WHERE contains(' ' || d.norm || ' ', ' ' || p.phrase || ' ')) AS n_docs,
       (SELECT min(doc_id) FROM d
        WHERE contains(' ' || d.norm || ' ', ' ' || p.phrase || ' ')) AS first_doc
FROM top3 p
ORDER BY p.phrase
"""


@register(
    "docs_phrase_search_postings",
    _PHRASE_ORACLE,
    tags=("llm", "text", "search", "join"),
    bench=True,  # r8: r7 addition — tracked round-over-round
)
def docs_phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))

    # data-derived query set: the 3 most frequent bigrams corpus-wide
    n = F.size("t")
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("t", 1, n - 1),
                    F.slice("t", 2, n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("phrase"),
    )
    top3 = (
        pairs.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "phrase")
        .limit(3)
    )
    # |queries|-bounded collect (3 rows) — the query set, not data
    phrases = [(r["phrase"], r["n_occurrences"]) for r in top3.collect()]

    # positional postings index: (term, doc_id, pos)
    post = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "term")
    )
    w1s = [p.split(" ")[0] for p, _ in phrases]
    w2s = [p.split(" ")[1] for p, _ in phrases]
    p1 = post.filter(F.col("term").isin(w1s)).alias("a")
    p2 = post.filter(F.col("term").isin(w2s)).alias("b")
    qset = local_frame(spark, 
        [(p, n_occ, p.split(" ")[0], p.split(" ")[1]) for p, n_occ in phrases],
        "phrase string, n_occurrences long, w1 string, w2 string",
    )
    hits = (
        F.broadcast(qset)
        .join(p1, F.col("w1") == F.col("a.term"))
        .join(
            p2,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("w2") == F.col("b.term"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select("phrase", "n_occurrences", F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    return (
        hits.groupBy("phrase", "n_occurrences")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("phrase")
    )
