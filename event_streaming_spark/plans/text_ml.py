"""Round-8 tranche 14: statistical text models — a trained multinomial
Naive Bayes language classifier (train/holdout split, confusion-matrix
output) and TextRank keyphrase extraction (PageRank over the token
co-occurrence graph).  These add the "learned model over the corpus"
capability class: everything before this point scores text with fixed
heuristics; these two FIT parameters on one part of the data and apply
them to another — the shape every training-data pipeline needs for
quality classifiers and topic surfacing (reference scope: the C engine
has no text analytics at all; this extends SURVEY §2.5's text-analysis
mandate).

Scale design notes:

* NAIVE BAYES: training is two wordcount-shaped shuffles (per-class
  token counts, per-class totals); the model is vocabulary-bounded and
  the class list is tiny — both broadcast to the scoring side.  Scoring
  is test-tokens × |classes| (a bounded multiplier, 5 here), one keyed
  sum per (doc, class), one argmax window per doc.  No driver loop, no
  iteration: NB is the one classical classifier whose fit IS a groupBy.
  Determinism recipe: per-(token, class) log-weights are rounded to 6
  decimals and cast DECIMAL(18,6) BEFORE summation, so the per-document
  score is an exact decimal sum (order-independent) on both engines;
  the ln() inputs are identical doubles derived from exact integers
  (cnt+1)/(total_c+V) — the tfidf precedent.  Ties break by class name.
* TEXTRANK: co-occurrence edges (window ≤ 2 over the ORIGINAL token
  sequence, per the TextRank paper) are built with lead() over each
  document's position order — one doc_id exchange and a linear window
  pass, never a quadratic self-join; both endpoints must clear a global
  frequency floor, so the graph is vocabulary-sized.  The rank loop is the
  repo's exact-integer PageRank kernel (operators/graph.py) — int64
  recurrence, 3 fixed rounds, oracle unrolled as chained CTEs.

Reference parity: none (capability extension).  Citations for the
algorithms: Mihalcea & Tarau, "TextRank" (EMNLP 2004); McCallum & Nigam,
"A Comparison of Event Models for Naive Bayes Text Classification"
(AAAI-98 workshop) — public papers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import sql_normalize_text, tokens
from event_streaming_spark.plans.catalog import capture_plan, load, register

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
