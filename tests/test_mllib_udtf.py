"""MLlib LSH variants agree with the explicit constructions."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_streaming_spark.operators.similarity_mllib import ann_mllib, minhash_lsh_pairs_mllib
from event_streaming_spark.plans.catalog import load
from event_streaming_spark.plans import REGISTRY
from tests.conftest import SF_SMALL


def test_mllib_minhash_agrees_with_explicit_lsh(spark):
    docs = load(spark, SF_SMALL, "documents")
    mllib_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs_mllib(docs, jaccard_distance_threshold=0.6).collect()
    }
    explicit_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["minhash_lsh_near_dup_pairs"].fn(spark, SF_SMALL).collect()
    }
    # the explicit pipeline keeps est-jaccard >= 0.3 (dist <= 0.7) — every
    # such strong pair should be recalled by MLlib at a looser threshold
    assert explicit_pairs, "explicit LSH found no pairs — fixture changed?"
    recall = len(explicit_pairs & mllib_pairs) / len(explicit_pairs)
    assert recall >= 0.9, f"MLlib recalled only {recall:.0%} of strong near-dup pairs"


def test_mllib_ann_returns_sane_neighbors(spark):
    emb = load(spark, SF_SMALL, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = ann_mllib(emb, qv, k=5).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0 and out[0]["dist"] == 0.0  # itself first
    dists = [r["dist"] for r in out]
    assert dists == sorted(dists)

