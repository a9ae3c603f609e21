"""Targeted tests for the round-11 operators — hand-computed expectations
on engineered fixtures (the differential suite already hash-gates every
query against DuckDB on the driver fixtures; these pin the SEMANTICS on
cases small enough to verify by hand).

* decontamination: a 6-token shared run = TWO distinct 5-shingles →
  flagged; a 5-token run = ONE → below the >=2 threshold; the
  (source x eval_set) grid emits explicit zero rows.
* quality funnel: three docs engineered to survive all gates / fail
  min-words / fail only the repetition gate — exact stage counts.
* CUPED: pre == post per user → theta = 1 and var_cuped = 0 (full
  variance reduction) in both arms.
* PSI: a single day IS the baseline → every term is exactly 0; a
  shifted second day scores strictly higher than the baseline-like
  first day, and PSI is never negative.
* Mahalanobis OOD: Spark output equals a pure-Python replication of
  the exact fixed-point formula on arbitrary small vectors.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _write_documents(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, value double"
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_decontamination_threshold_and_grid_zero_rows(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        docs_eval_decontamination_manifest,
    )

    # doc 0 -> dev eval set (0 % 17 == 0); doc 5 -> test (5 % 17 == 5).
    # corpus doc 1 shares the 6-token run "a1 a2 a3 a4 a5 a6" with doc 0:
    # distinct 5-shingles {a1..a5, a2..a6} = 2 >= threshold -> flagged.
    # corpus doc 2 shares only the 5-token run "a1..a5" = 1 -> clean.
    # corpus doc 3 shares nothing.  No corpus doc overlaps doc 5 (test),
    # so the test rows must still exist with zero counts.
    sf = _write_documents(
        spark,
        tmp_path,
        [
            (0, "a1 a2 a3 a4 a5 a6 z1 z2 z3 z4", "en", "s0"),
            (5, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", "en", "s0"),
            (1, "p1 p2 a1 a2 a3 a4 a5 a6 p3 p4", "en", "s0"),
            (2, "q1 q2 a1 a2 a3 a4 a5 q3 q4 q5", "en", "s0"),
            (3, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10", "en", "s0"),
        ],
    )
    rows = {
        (r.source, r.eval_set): r
        for r in docs_eval_decontamination_manifest(spark, sf).collect()
    }
    assert set(rows) == {("s0", "dev"), ("s0", "test")}
    dev, tst = rows[("s0", "dev")], rows[("s0", "test")]
    assert dev.n_corpus_docs == 3 and tst.n_corpus_docs == 3
    assert dev.n_flagged_docs == 1  # doc 1 only: doc 2 is below threshold
    assert dev.flagged_tokens == 10
    assert dev.flagged_ppm == 1_000_000 // 3
    assert tst.n_flagged_docs == 0 and tst.flagged_tokens == 0
    assert tst.flagged_ppm == 0


def test_quality_funnel_stage_attrition(spark, tmp_path):
    from event_streaming_spark.plans.curation import docs_quality_filter_funnel

    five = [
        "alpha", "betas", "gamma", "delta", "sigma", "omega", "kappa",
        "theta", "zetas", "etaxx", "iotas", "lamda", "muxyz", "nuvwx",
        "xiabc", "pized", "rhoze", "tauab", "phicd", "chief", "psixy",
        "nodes", "edges",
    ]
    doc_a = " ".join(["the", "a"] + five)  # 25 words, clean -> survives all
    doc_b = "the a tiny two x"  # 5 words -> fails 1_min_words
    # doc_c: 22 words, passes 1-4, repeats "gamma delta" 3x -> 3 repeated
    # 2-grams over n2 = 21 -> 142857 ppm > 80000 -> fails 5_repetition.
    doc_c = " ".join(
        ["the", "a", "gamma", "delta", "gamma", "delta", "gamma", "delta"]
        + five[6:20]
    )
    sf = _write_documents(
        spark,
        tmp_path,
        [(0, doc_a, "en", "s0"), (1, doc_b, "en", "s0"), (2, doc_c, "en", "s0")],
    )
    got = {
        r.stage: (r.n_docs, r.n_tokens, r.kept_ppm)
        for r in docs_quality_filter_funnel(spark, sf).collect()
    }
    assert got["0_all"] == (3, 52, 1_000_000)
    assert got["1_min_words"] == (2, 47, 666_666)
    assert got["2_mean_word_len"] == (2, 47, 666_666)
    assert got["3_alpha_ratio"] == (2, 47, 666_666)
    assert got["4_stopwords"] == (2, 47, 666_666)
    assert got["5_repetition"] == (1, 25, 333_333)


def test_cuped_identical_pre_post_gives_full_reduction(spark, tmp_path):
    from event_streaming_spark.plans.events import events_cuped_variance_reduction

    # span = 2 days -> pre = day 0, post = day 1.  Every user repeats the
    # same value in both halves, so x == y per user: theta = 1, the
    # adjusted variance collapses to 0 and var_reduction = 1 in BOTH arms.
    rows = []
    for i, (uid, val) in enumerate([(0, 1.0), (2, 3.0), (1, 2.0), (3, 5.0)]):
        rows.append((2 * i, "2024-01-01 10:00:00", uid, val))
        rows.append((2 * i + 1, "2024-01-02 10:00:00", uid, val))
    sf = _write_events(spark, tmp_path, rows)
    got = {r.arm: r for r in events_cuped_variance_reduction(spark, sf).collect()}
    assert set(got) == {0, 1}
    for arm in (0, 1):
        r = got[arm]
        assert r.n_users == 2
        assert abs(r.theta - 1.0) < 1e-9
        assert abs(r.var_cuped) < 1e-9
        assert abs(r.var_reduction - 1.0) < 1e-9
    assert abs(got[0].mean_y - 2.0) < 1e-9  # users 0 (1.0) and 2 (3.0)
    assert abs(got[1].mean_y - 3.5) < 1e-9  # users 1 (2.0) and 3 (5.0)


def test_psi_zero_on_baseline_and_positive_on_shift(spark, tmp_path):
    from event_streaming_spark.plans.events import events_value_psi_daily

    # One day only: the day IS the baseline, dc == bc and dn == bn for
    # every bin, so each (q - p) * ln(q / p) term is EXACTLY zero.
    one = [(i, "2024-01-01 10:00:00", i, float(i + 1)) for i in range(20)]
    sf = _write_events(spark, tmp_path, one)
    [r] = events_value_psi_daily(spark, sf).collect()
    assert r.n_events == 20 and r.psi_fp6 == 0

    # A second day OUTSIDE the 10-day baseline window, concentrated at
    # the top of the baseline range: day 1 IS the whole baseline (PSI
    # exactly 0), the drifted day scores strictly positive.
    two = list(one) + [
        (100 + i, "2024-01-12 10:00:00", i, 20.0) for i in range(20)
    ]
    sf2 = _write_events(spark, tmp_path, two)
    got = {str(r.day): r.psi_fp6 for r in events_value_psi_daily(spark, sf2).collect()}
    assert got["2024-01-01"] == 0
    assert got["2024-01-12"] > 0


def test_mahalanobis_matches_pure_python_replication(spark, tmp_path):
    from event_streaming_spark.plans.llm import emb_ood_mahalanobis_diag

    # label 0: 12 vectors tight in dim 0 / spread in dim 1, plus ONE
    # probe with a large deviation in the TIGHT dimension (a cohort big
    # enough that the probe doesn't inflate its own variance fit past
    # the 2x-mean flag); label 1: a small clean cohort.
    vecs = [
        (i, [0.01 * ((-1) ** i), 1.0 + ((i % 5) - 2) * 0.5], 0)
        for i in range(12)
    ] + [
        (12, [0.5, 0.0], 0),
        (20, [1.0, 1.0], 1),
        (21, [1.1, -1.0], 1),
        (22, [0.9, 2.0], 1),
        (23, [1.05, 0.5], 1),
    ]
    sf = _write_embeddings(spark, tmp_path, vecs)

    # pure-Python replication of the exact fixed-point pipeline
    def f6(x):  # float32 storage then round to µ-units
        import struct

        return round(struct.unpack("f", struct.pack("f", x))[0] * 1e6)

    by_label: dict[int, list[tuple[int, list[int]]]] = {}
    for vid, emb, lab in vecs:
        by_label.setdefault(lab, []).append((vid, [f6(x) for x in emb]))
    expected = {}
    for lab, members in by_label.items():
        dims = len(members[0][1])
        stats = []
        for d in range(dims):
            xs = [m[1][d] for m in members]
            n = len(xs)
            s1, s2 = sum(xs), sum(x * x for x in xs)
            mu = (s1 / 1e6) / n
            var = (s2 / 1e12 - (s1 / 1e6) * (s1 / 1e6) / n) / (n - 1)
            stats.append((mu, var))
        md2 = {}
        for vid, emb in members:
            t = 0
            for d in range(dims):
                mu, var = stats[d]
                dev = emb[d] / 1e6 - mu
                t += round(dev * dev / (var + 1e-9) * 1e6)
            md2[vid] = t
        n_vecs = len(members)
        mean_md2 = sum(md2.values()) // n_vecs
        expected[lab] = (
            n_vecs,
            mean_md2,
            max(md2.values()),
            sum(1 for v in md2.values() if v > 2 * mean_md2),
        )

    got = {
        r.label: (r.n_vecs, r.mean_md2_fp6, r.max_md2_fp6, r.n_ood)
        for r in emb_ood_mahalanobis_diag(spark, sf).collect()
    }
    assert got == expected
    # the tight-dimension deviation must be the label-0 flag
    assert got[0][3] >= 1


def test_ccnet_buckets_are_terciles_with_monotone_mean_h(spark):
    from event_streaming_spark.plans.curation import docs_ccnet_perplexity_buckets

    rows = docs_ccnet_perplexity_buckets(spark, "/root/testdata/sf0.001").collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert by_source, "expected at least one source"
    for source, rs in by_source.items():
        rs.sort(key=lambda r: r.bucket)
        assert [r.bucket for r in rs] == [1, 2, 3]
        # ntile: bucket sizes differ by at most 1, larger buckets first
        sizes = [r.n_docs for r in rs]
        assert max(sizes) - min(sizes) <= 1
        assert sorted(sizes, reverse=True) == sizes
        # ordered by h -> mean_h is nondecreasing across buckets
        assert rs[0].mean_h <= rs[1].mean_h <= rs[2].mean_h


def test_burstiness_matches_pure_python_replication(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        _BURST_MIN_DF,
        text_term_burstiness_topk,
    )

    # 30 docs; "conc" is bursty (one doc carries 20 of its 44
    # occurrences), "unif" is uniform (2 per doc) — same df, similar tf.
    docs = []
    for i in range(30):
        words = ["pad"]
        if i < 25:
            words += ["conc"] * (20 if i == 0 else 1)
            words += ["unif", "unif"]
        docs.append((i, " ".join(words), "en", "s0"))
    sf = _write_documents(spark, tmp_path, docs)

    # pure-Python replication of the exact pipeline
    import collections

    counts: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter
    )
    for doc_id, text, _l, _s in docs:
        for w in text.split():
            counts[w][doc_id] += 1
    n = len(docs)
    expected = []
    for w, percounts in counts.items():
        df = len(percounts)
        if df < _BURST_MIN_DF:
            continue
        tf = sum(percounts.values())
        tf2 = sum(c * c for c in percounts.values())
        var = (tf2 - float(tf) * float(tf) / n) / (n - 1)
        vmr = round(var / (float(tf) / n), 6)
        expected.append((w, df, tf, vmr))
    expected.sort(key=lambda r: (-r[3], r[0]))

    got = [
        (r.term, r.df, r.tf, r.vmr)
        for r in text_term_burstiness_topk(spark, sf).collect()
    ]
    assert got == expected[:20]
    vmr_by_term = {r[0]: r[3] for r in got}
    assert vmr_by_term["conc"] > vmr_by_term["unif"]


def test_kneser_ney_matches_pure_python_replication(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        _KN_D,
        text_kneser_ney_surprisal_by_source,
    )

    # src0 is the reference; srcX contains a bigram with an UNSEEN first
    # word (continuation fallback) and a seen-but-rare continuation.
    docs = [
        (0, "a b a b a c b c a b", "en", "src0"),
        (1, "a b c a b c a b", "en", "src0"),
        (2, "a b q c b a", "en", "srcX"),  # "b q"/"q c" exercise fallback
    ]
    sf = _write_documents(spark, tmp_path, docs)

    import collections
    import math as _m

    pairs_by_source = collections.defaultdict(list)
    for _d, text, _l, src in docs:
        tk = text.split()
        pairs_by_source[src] += list(zip(tk, tk[1:]))
    ref = pairs_by_source["src0"]
    cb = collections.Counter(ref)
    c1 = collections.Counter(w1 for w1, _ in ref)
    n1p = {
        w1: len({w2 for a, w2 in ref if a == w1}) for w1 in c1
    }
    npre = collections.defaultdict(set)
    for w1, w2 in ref:
        npre[w2].add(w1)
    nbi = len(cb)
    vc = len({w2 for _, w2 in ref}) + 1
    expected = {}
    for src, ps in pairs_by_source.items():
        m = collections.Counter(ps)
        tot, acc = 0, 0.0
        for (w1, w2), cnt in m.items():
            pcont = (len(npre.get(w2, ())) + 1.0) / (nbi + vc)
            if c1.get(w1, 0) > 0:
                p = max(cb.get((w1, w2), 0) - _KN_D, 0.0) / c1[w1] + (
                    _KN_D * n1p[w1] / c1[w1]
                ) * pcont
            else:
                p = pcont
            lp = round(_m.log(p), 6)
            acc += lp * cnt
            tot += cnt
        expected[src] = (tot, round(-acc / tot, 6))

    got = {
        r.source: (r.n_pairs, r.h_kn)
        for r in text_kneser_ney_surprisal_by_source(spark, sf).collect()
    }
    assert got == expected


def test_streaming_psi_drain_equals_batch(spark, tmp_path):
    from event_streaming_spark.plans.events import (
        events_value_psi_daily,
        streaming_psi_drift_drain,
    )

    rows = [(i, "2024-01-01 10:00:00", i, float(i + 1)) for i in range(20)] + [
        (100 + i, "2024-01-12 10:00:00", i, 20.0) for i in range(20)
    ]
    sf = _write_events(spark, tmp_path, rows)
    batch = sorted(
        (str(r.day), r.n_events, r.psi_fp6)
        for r in events_value_psi_daily(spark, sf).collect()
    )
    streamed = sorted(
        (str(r.day), r.n_events, r.psi_fp6)
        for r in streaming_psi_drift_drain(spark, sf).collect()
    )
    assert streamed == batch
