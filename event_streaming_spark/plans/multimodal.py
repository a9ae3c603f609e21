"""Multimodal queries: video frame dedup, perceptual-hash clustering and
the PNG / G.711 audio codecs, each under the differential oracle.  Each
section below opens with its design notes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_spark.operators import similarity as S
from event_streaming_spark.plans.catalog import capture_plan, load, register
from event_streaming_spark.plans.scale import _PHASH_RT_BODY, multimodal_phash_roundtrip

# ===========================================================================
# Video frame-level dedup under the ORACLE gate — the multimodal ×
# dedup composition for VIDEO: per-document MJPEG videos are synthesized
# with the in-repo JPEG encoder + AVI muxer, demuxed back frame by frame
# (RIFF walk), every frame REALLY decoded (baseline JPEG, stdlib+numpy)
# and perceptually hashed (operators/phash.py), and videos sharing frames
# are paired by an equi-join on the 64-bit frame hash — the standard
# "find re-uploads / clips of the same footage" pipeline.
#
# Differential design (same family as multimodal_phash_roundtrip and
# multimodal_jpeg_decode_stats): each video's 3 frames are 32×32 images —
# a 4×4 grid of uniform even-valued 8×8 blocks (16 cells of hash entropy,
# so unrelated videos essentially never collide) derived from the MinHash
# signature of the document's RESIDUE-CLASS representative (doc_id %
# _VD_GROUPS), so (a) videos within a residue class share all 3 frames —
# real duplicate structure for the join to find — and (b) DuckDB predicts
# every frame hash ARITHMETICALLY: uniform even-valued 8×8 blocks
# round-trip the DCT/quantization exactly (the proven jpegcodec
# contract), gray luma is the identity (the 299/587/114 weights sum to
# 1000), the 32→8 box resize of 4×4-uniform cells is the cell value, and
# the average-hash threshold is integer.  One wrong byte in the encoder,
# muxer, demuxer, decoder or hasher flips bits and fails the hash gate.
#
# Scale shape: synthesis/demux/hash is ONE Arrow-batched pass emitting 3
# rows of (id, 8-byte hash) per video — pixels never cross a shuffle; the
# pair join is hash-sized (equality on the 64-bit hash; swap in
# phash_near_dup_pairs' banded join for a hamming radius).  At 100 TB the
# videos arrive as binary columns instead of being synthesized; every
# stage after the bytes is identical.
#
# Reference: the whole-file scan surface (src/file-utils.c:22-60) is how
# the C engine would ingest these; the pipeline past the bytes is
# north-star (the reference has no codecs).
# ===========================================================================

_VD_N_DOCS = 120
_VD_GROUPS = 30
_VD_FRAMES = 3


def _cell_expr(k: int, q: int) -> str:
    """Block luma for frame k, grid cell q (0..15) — even, < 256.

    Each cell windows a DIFFERENT bit range of the (non-negative
    32-bit-hash-derived) seed — ``seed % 128`` alone would collapse the
    video space to 128 distinct clips and flood the join with
    structural collisions."""
    return f"2 * (((seed // {1 << ((2 * q) % 16)}) + 17 * {k} + 37 * {q}) % 128)"


def _sql_frame_hash(k: int) -> str:
    """The 64-bit average hash of frame k, predicted arithmetically.

    Resized 8×8 cell (y,x) shows grid block (y//2)*4 + (x//2); bit i
    (row-major cell index) carries weight 2^(63-i) with i=0 the sign
    bit of the signed 64-bit hash; threshold is STRICT > of the integer
    mean (sum of 64 cells div 64 = block sum div 16)."""
    mean = f"(({' + '.join(_cell_expr(k, q) for q in range(16))}) // 16)"
    terms = []
    for i in range(64):
        y, x = divmod(i, 8)
        q = (y // 2) * 4 + (x // 2)
        w = -(1 << 63) if i == 0 else 1 << (63 - i)
        terms.append(f"(CASE WHEN {_cell_expr(k, q)} > {mean} THEN {w} ELSE 0 END)")
    return " + ".join(terms)


_VDED_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs
  FROM documents WHERE doc_id < {_VD_GROUPS}
), reps AS (
  SELECT doc_id AS rep_id, {S.sql_minhash_exprs('hs')[0]}
  FROM hs WHERE len(hs) > 0
), vids AS (
  SELECT d.doc_id, r.mh00 AS seed
  FROM documents d JOIN reps r ON r.rep_id = d.doc_id % {_VD_GROUPS}
  WHERE d.doc_id < {_VD_N_DOCS}
), frames AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {k} AS frame_idx, cast({{h}} AS BIGINT) AS fh FROM vids"
      .format(h=_sql_frame_hash(k)) for k in range(_VD_FRAMES))}
)
SELECT a.doc_id AS video_a, b.doc_id AS video_b,
       count(DISTINCT a.fh) AS n_shared_frames
FROM frames a JOIN frames b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY video_a, video_b
"""


@register(
    "multimodal_video_frame_dedup",
    _VDED_ORACLE,
    tags=("multimodal", "codec", "dedup", "llm"),
)
def multimodal_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize MJPEG AVIs → demux → decode frames → phash → pair
    videos by shared frame hashes; hash-equal to the arithmetic oracle."""
    docs = load(spark, sf_dir, "documents")
    hs = (
        docs.filter(F.col("doc_id") < _VD_GROUPS)
        .select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
        .where(F.size("hs") > 0)
    )
    reps = hs.select(
        F.col("doc_id").alias("rep_id"), S.minhash_cols(F.col("hs"))[0]
    ).withColumnRenamed("mh00", "seed")
    vids = (
        docs.filter(F.col("doc_id") < _VD_N_DOCS)
        .select("doc_id", (F.col("doc_id") % _VD_GROUPS).alias("g"))
        .join(F.broadcast(reps), F.col("g") == F.col("rep_id"))
        .select("doc_id", "seed")
    )

    def _hash_frames(batches):
        import numpy as np

        from event_streaming_spark.operators.avidemux import (
            build_mjpeg_avi,
            iter_video_frames,
        )
        from event_streaming_spark.operators.jpegcodec import encode_jpeg
        from event_streaming_spark.operators.phash import average_hash_bytes

        for pdf in batches:
            out: list[tuple[int, int, int]] = []
            for doc_id, seed in zip(pdf["doc_id"], pdf["seed"]):
                doc_id, seed = int(doc_id), int(seed)
                frames = []
                for k in range(_VD_FRAMES):
                    img = np.zeros((32, 32, 3), np.uint8)
                    for q in range(16):
                        by, bx = divmod(q, 4)
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = 2 * (
                            ((seed >> ((2 * q) % 16)) + 17 * k + 37 * q) % 128
                        )
                    frames.append(encode_jpeg(img, subsampling="444"))
                video = build_mjpeg_avi(frames, 32, 32)
                # the real ingest path: RIFF demux -> per-frame JPEG bytes
                # -> decode -> 64-bit average hash
                for idx, off, size in iter_video_frames(video):
                    fh = average_hash_bytes(video[off : off + size])
                    out.append((doc_id, idx, fh))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "fh"])

    frames = vids.mapInPandas(_hash_frames, "doc_id long, frame_idx int, fh long")
    a = frames.select(F.col("doc_id").alias("video_a"), F.col("fh").alias("ha"))
    b = frames.select(F.col("doc_id").alias("video_b"), F.col("fh").alias("hb"))
    return (
        a.join(b, (F.col("ha") == F.col("hb")) & (F.col("video_a") < F.col("video_b")))
        .groupBy("video_a", "video_b")
        .agg(F.countDistinct("ha").alias("n_shared_frames"))
        .orderBy("video_a", "video_b")
    )


# ---------------------------------------------------------------------------
# Video scene segmentation: cut detection on consecutive-frame hash
# distance + gaps-and-islands scene assembly.
# ---------------------------------------------------------------------------

_VS_N_DOCS = 120
_VS_GROUPS = 30
_VS_FRAMES = 12
_VS_THRESH = 8  # hamming cut threshold (same-scene frames are identical)


def _vs_cell(q: int) -> str:
    """Block luma for grid cell q under a SCENE-dependent shift.

    The 29·scene·(q+1) term shifts each cell DIFFERENTLY per scene — a
    uniform shift would move the mean with the cells and leave the
    average hash unchanged (the threshold is relative)."""
    return (
        f"2 * (((seed // {1 << ((2 * q) % 16)})"
        f" + 29 * scene * {q + 1} + 37 * {q}) % 128)"
    )


def _vs_oracle() -> str:
    cells = ", ".join(f"{_vs_cell(q)} AS c{q}" for q in range(16))
    cell_sum = " + ".join(f"c{q}" for q in range(16))
    signs = ", ".join(
        f"(CASE WHEN c{q} > m THEN 1 ELSE 0 END) AS s{q}" for q in range(16)
    )
    diff = " + ".join(
        f"(CASE WHEN a.s{q} <> b.s{q} THEN 1 ELSE 0 END)" for q in range(16)
    )
    return f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs
  FROM documents WHERE doc_id < {_VS_GROUPS}
), reps AS (
  SELECT doc_id AS rep_id, {S.sql_minhash_exprs('hs')[0]}
  FROM hs WHERE len(hs) > 0
), vids AS (
  SELECT d.doc_id, r.mh00 AS seed
  FROM documents d JOIN reps r ON r.rep_id = d.doc_id % {_VS_GROUPS}
  WHERE d.doc_id < {_VS_N_DOCS}
), fr AS MATERIALIZED (
  SELECT doc_id, cast(range AS INTEGER) AS k, seed,
         cast(bit_count(cast(seed AS BIGINT)
                   & ((1::BIGINT << (cast(range AS INTEGER) + 1)) - 2))
              AS BIGINT) AS scene
  FROM vids, range({_VS_FRAMES})
), c AS (
  SELECT doc_id, k, {cells}, ({cell_sum}) // 16 AS m
  FROM fr
), sg AS MATERIALIZED (
  SELECT doc_id, k, {signs} FROM c
), d AS (
  SELECT a.doc_id, a.k,
         CASE WHEN a.k = 0 THEN 0
              WHEN 4 * ({diff}) > {_VS_THRESH} THEN 1 ELSE 0 END AS cut
  FROM sg a LEFT JOIN sg b ON b.doc_id = a.doc_id AND b.k = a.k - 1
), seg AS MATERIALIZED (
  SELECT doc_id, k, cut,
         sum(cut) OVER (PARTITION BY doc_id ORDER BY k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS scene_id
  FROM d
), lens AS (
  SELECT doc_id, scene_id, cast(count(*) AS BIGINT) AS len
  FROM seg GROUP BY doc_id, scene_id
), agg1 AS (
  SELECT doc_id, cast(count(*) AS BIGINT) AS n_frames,
         cast(max(scene_id) + 1 AS BIGINT) AS n_scenes,
         cast(coalesce(min(CASE WHEN cut = 1 THEN k END), -1) AS BIGINT)
           AS first_cut_idx
  FROM seg GROUP BY doc_id
), agg2 AS (
  SELECT doc_id, cast(max(len) AS BIGINT) AS longest_scene_frames
  FROM lens GROUP BY doc_id
)
SELECT a.doc_id AS video_id, a.n_frames, a.n_scenes,
       b.longest_scene_frames, a.first_cut_idx
FROM agg1 a JOIN agg2 b USING (doc_id)
ORDER BY video_id
"""


@register(
    "multimodal_video_scene_segments",
    _vs_oracle(),
    tags=("multimodal", "codec", "llm"),
)
def multimodal_video_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut segmentation: demux+decode frames, hash, cut on hamming
    distance between consecutive frames, assemble scenes as islands.

    The standard shot-boundary pipeline (frame feature distance over a
    threshold → cut; PySceneDetect's content detector shape), run over
    REAL MJPEG videos synthesized with the in-repo codec: scene
    structure is planted via seed bits (frame k's scene = popcount of
    seed bits 1..k), frames within a scene are pixel-identical, and
    the oracle predicts every decoded block arithmetically under the
    proven jpegcodec round-trip contract — one wrong byte anywhere in
    the encode→mux→demux→decode→hash→segment chain flips the gate.

    Scale shape: synthesis/demux/hash is ONE Arrow-batched pass
    emitting _VS_FRAMES skinny rows per video (pixels never cross a
    shuffle); segmentation is a per-video ordered window over
    frame-count-sized rows — at 100 TB the videos arrive as binary
    columns and every stage after the bytes is identical.

    Reference: whole-file ingest surface (src/file-utils.c:22-60);
    the pipeline past the bytes is north-star (no codecs in the C
    engine).
    """
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    hs = (
        docs.filter(F.col("doc_id") < _VS_GROUPS)
        .select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
        .where(F.size("hs") > 0)
    )
    reps = hs.select(
        F.col("doc_id").alias("rep_id"), S.minhash_cols(F.col("hs"))[0]
    ).withColumnRenamed("mh00", "seed")
    vids = (
        docs.filter(F.col("doc_id") < _VS_N_DOCS)
        .select("doc_id", (F.col("doc_id") % _VS_GROUPS).alias("g"))
        .join(F.broadcast(reps), F.col("g") == F.col("rep_id"))
        .select("doc_id", "seed")
    )

    def _hash_frames(batches):
        import numpy as np

        from event_streaming_spark.operators.avidemux import (
            build_mjpeg_avi,
            iter_video_frames,
        )
        from event_streaming_spark.operators.jpegcodec import encode_jpeg
        from event_streaming_spark.operators.phash import average_hash_bytes

        for pdf in batches:
            out: list[tuple[int, int, int]] = []
            for doc_id, seed in zip(pdf["doc_id"], pdf["seed"]):
                doc_id, seed = int(doc_id), int(seed)
                frames = []
                for k in range(_VS_FRAMES):
                    scene = (seed & ((1 << (k + 1)) - 2)).bit_count()
                    img = np.zeros((32, 32, 3), np.uint8)
                    for q in range(16):
                        by, bx = divmod(q, 4)
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :] = 2 * (
                            ((seed >> ((2 * q) % 16))
                             + 29 * scene * (q + 1) + 37 * q) % 128
                        )
                    frames.append(encode_jpeg(img, subsampling="444"))
                video = build_mjpeg_avi(frames, 32, 32)
                for idx, off, size in iter_video_frames(video):
                    fh = average_hash_bytes(video[off : off + size])
                    out.append((doc_id, idx, fh))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "fh"])

    from event_streaming_spark.operators.materialize import materialize

    frames = vids.mapInPandas(_hash_frames, "doc_id long, frame_idx int, fh long")
    wd = Window.partitionBy("doc_id").orderBy("frame_idx")
    cut = F.when(F.lag("fh").over(wd).isNull(), 0).when(
        F.bit_count(F.col("fh").bitwiseXOR(F.lag("fh").over(wd))) > _VS_THRESH, 1
    ).otherwise(0)
    # seg feeds TWO consumers (scene lengths + per-video rollup) — pin the
    # frame-count-sized frame once or the codec pass (encode→mux→demux→
    # decode→hash, the expensive stage) re-runs per consumer.
    seg = materialize(
        frames.select("doc_id", "frame_idx", cut.alias("cut")).withColumn(
            "scene_id",
            F.sum("cut").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        ),
        "video-scene-seg",
    )
    lens = seg.groupBy("doc_id", "scene_id").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    agg1 = seg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        (F.max("scene_id") + 1).cast("long").alias("n_scenes"),
        F.coalesce(
            F.min(F.when(F.col("cut") == 1, F.col("frame_idx"))), F.lit(-1)
        )
        .cast("long")
        .alias("first_cut_idx"),
    )
    agg2 = lens.groupBy("doc_id").agg(
        F.max("len").cast("long").alias("longest_scene_frames")
    )
    return (
        agg1.join(agg2, "doc_id")
        .select(
            F.col("doc_id").alias("video_id"),
            "n_frames",
            "n_scenes",
            "longest_scene_frames",
            "first_cut_idx",
        )
        .orderBy("video_id")
    )


# ===========================================================================
# Multimodal clustering: multimodal near-dup CLUSTERING — banded-LSH over
# perceptual hashes from the REAL image pipeline, Hamming-verified, closed
# into clusters.  This completes the multimodal dedup story: the catalog
# had per-image hashing (`multimodal_phash_roundtrip`) and within-video
# frame dedup; this adds the corpus-level "find all near-duplicate images
# and label each with its cluster" operator — the image twin of
# `dedup_near_dup_clusters`.
#
# Pipeline (Spark side): deterministic BMP bytes per doc → raster decode →
# integer luma → 8×8 box filter → 64-bit average hash (all the real
# operators/phash.py kernels, Arrow-batched) → 4×16-bit band split →
# band-bucket equi-join for candidates → popcount(xor) ≤ threshold verify
# → min-label connected components.  The oracle computes the hash
# ARITHMETICALLY from the same MinHash-derived cell values (the synthetic
# images are exactly invertible — plans/scale.py's roundtrip construction),
# then runs the identical band/Hamming/closure relational algebra with a
# recursive CTE: one flipped bit anywhere in the decode chain, band math,
# or closure changes cluster labels and fails the hash gate.
#
# Scale: banding bounds the candidate join (equi-join on (band, value) —
# never all-pairs); the Hamming verify is a per-candidate O(1) popcount;
# components is the pointer-doubled kernel (O(log diameter) rounds over an
# edge-sized frame).  At 100 TB of images the hash pass is the only
# corpus-sized stage and it is embarrassingly parallel.
# ===========================================================================

_HAM_MAX = 16  # Hamming radius for "near-duplicate" on the 64-bit hash

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, phash, {i} AS band, (phash >> {16 * i}) & 65535 AS bv FROM ph"
    for i in range(4)
)

_PHC_ORACLE = f"""
WITH RECURSIVE ph AS ({_PHASH_RT_BODY}),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS ph_a,
                  b.doc_id AS doc_b, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON b.band = a.band AND b.bv = a.bv AND b.doc_id > a.doc_id
), pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE bit_count(xor(ph_a, ph_b)) <= {_HAM_MAX}
), bidir AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, origin) AS (
  SELECT doc_id, doc_id FROM ph
  UNION
  SELECT b.dst AS node, r.origin FROM reach r JOIN bidir b ON b.src = r.node
)
SELECT node AS doc_id, min(origin) AS cluster_id FROM reach
GROUP BY node ORDER BY doc_id
"""


@register(
    "multimodal_phash_band_clusters",
    _PHC_ORACLE,
    tags=("multimodal", "dedup", "hash", "iterative"),
)
def multimodal_phash_band_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image clusters: real decode→phash pipeline, 4×16
    band LSH candidates, Hamming ≤ {_HAM_MAX} verify, min-label closure.

    Candidates come from an equi-join on (band, band_value) — the
    all-pairs comparison never happens; the verify is popcount(xor) per
    candidate; clusters use the pointer-doubled CC kernel.
    """
    from event_streaming_spark.operators.components import connected_components
    from event_streaming_spark.operators.materialize import materialize

    ph = materialize(
        multimodal_phash_roundtrip(spark, sf_dir), "phash-band-clusters"
    )  # (doc_id, phash) via the REAL decode pipeline; pinned — the band
    # explode, both candidate sides, and the node list all read it.
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("phash"), 16 * i)
                        .bitwiseAND(F.lit(65535))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "phash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash").alias("ph_a"),
        "band",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash").alias("ph_b"),
        "band",
        "bv",
    )
    cand = (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "ph_a", "doc_b", "ph_b")
        .distinct()
    )
    pairs = cand.where(
        F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))) <= _HAM_MAX
    ).select("doc_a", "doc_b")
    capture_plan("multimodal_phash_band_clusters/candidate_verify", pairs)
    cc = connected_components(ph.select("doc_id"), pairs)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hamming-radius tuning curve for the image near-dup pipeline — the
# multimodal twin of docs_near_dup_threshold_sensitivity: the band-LSH
# candidate set is generated ONCE; the Hamming verify is swept over
# radii so the "how aggressive should image dedup be" knob is tuned
# from measured pair/doc attrition, not asserted.
# ---------------------------------------------------------------------------

_HTC_RADII = (4, 8, 12, 16, 20)


def _htc_oracle() -> str:
    vals = ", ".join(f"({t})" for t in _HTC_RADII)
    return f"""
WITH ph AS ({_PHASH_RT_BODY}),
bands AS ({_BANDS_SQL}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS ph_a,
                  b.doc_id AS doc_b, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON b.band = a.band AND b.bv = a.bv AND b.doc_id > a.doc_id
), ham AS MATERIALIZED (
  SELECT doc_a, doc_b,
         cast(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hd
  FROM cand
)
SELECT cast(t.r AS BIGINT) AS hamming_radius,
       cast(count(*) FILTER (WHERE hd <= cast(t.r AS BIGINT)) AS BIGINT)
         AS n_pairs,
       cast(count(DISTINCT CASE WHEN hd <= cast(t.r AS BIGINT)
                                THEN doc_a END)
            + count(DISTINCT CASE WHEN hd <= cast(t.r AS BIGINT)
                                  THEN doc_b END) AS BIGINT) AS n_doc_slots
FROM ham, (VALUES {vals}) t(r)
GROUP BY t.r
ORDER BY hamming_radius
"""


@register(
    "multimodal_phash_hamming_threshold_curve",
    _htc_oracle(),
    tags=("multimodal", "dedup", "hash", "tuning"),
)
def multimodal_phash_hamming_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair/doc attrition per Hamming radius over the band-LSH
    candidates.

    Scale design: candidates come from the SAME (band, band_value)
    equi-join as the cluster query (never all-pairs) and the popcount
    distance is computed ONCE per candidate; the five radii are
    conditional counts over the candidate-sized frame — no re-verify
    per radius.  ``n_doc_slots`` counts distinct left + distinct right
    endpoints (the dedup workload estimate, same contract as the text
    sensitivity curve).
    """
    from event_streaming_spark.operators.materialize import materialize

    ph = materialize(
        multimodal_phash_roundtrip(spark, sf_dir), "phash-ham-curve"
    )
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("phash"), 16 * i)
                        .bitwiseAND(F.lit(65535))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "phash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("phash").alias("ph_a"), "band", "bv"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("phash").alias("ph_b"), "band", "bv"
    )
    ham = (
        a.join(b, ["band", "bv"])
        .where(F.col("doc_b") > F.col("doc_a"))
        .select("doc_a", "ph_a", "doc_b", "ph_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
            .cast("long")
            .alias("hd"),
        )
    )
    fanned = ham.select(
        "*",
        F.explode(F.array(*[F.lit(t).cast("long") for t in _HTC_RADII])).alias(
            "r"
        ),
    )
    keep = F.col("hd") <= F.col("r")
    return (
        fanned.groupBy("r")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_pairs"),
            (
                F.countDistinct(F.when(keep, F.col("doc_a")))
                + F.countDistinct(F.when(keep, F.col("doc_b")))
            )
            .cast("long")
            .alias("n_doc_slots"),
        )
        .select(F.col("r").alias("hamming_radius"), "n_pairs", "n_doc_slots")
        .orderBy("hamming_radius")
    )


# ===========================================================================
# PNG and G.711-audio codec queries under the differential oracle.
#
# Same contract as ``multimodal_jpeg_decode_stats`` (plans/scale.py):
# the engine SYNTHESIZES deterministic media from table-derived
# parameters, pushes it through its own REAL encoder and decoder inside
# one Arrow-batched pandas UDF, and DuckDB predicts the decoded statistics
# purely arithmetically — possible because PNG is lossless (the decoded
# pixel sum IS the generated pattern's sum) and G.711 expansion is an
# exact ITU-T closed form a SQL expression can replicate bit-for-bit.
#
# Reference parity: the reference engine has no codecs — this is the
# multimodal-column story (SURVEY §2.5) that a training-data pipeline
# needs: opaque ``binary`` payloads decoded per-item with zero cross-row
# state.
#
# Scale: both queries are embarrassingly parallel — per-row CPU inside
# ``pandas_udf`` batches, no shuffle before the final ORDER BY; at 100 TB
# the decode stage pipelines into the scan.  The PNG path cycles all five
# scanline filter types so every defilter branch (incl. the sequential
# Sub/Average/Paeth recurrences) is under the hash gate; the audio path
# grades the RIFF chunk walk, the µ-law expansion table, and an
# integer energy-gate VAD.
# ===========================================================================

# ---------------------------------------------------------------------------
# PNG: content-addressed test pattern (size and seed derived from doc_id
# and the document's text length) → encode_png (filters cycling 0-4) →
# decode_image_meta → (width, height, pixel byte sum).  Lossless codec ⇒ the
# oracle computes the same sum straight from the generator formula.
# ---------------------------------------------------------------------------

_PNG_N_DOCS = 200

_PNG_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         4 + (doc_id % 13) AS w,
         4 + ((doc_id // 13) % 11) AS h,
         (doc_id * 97 + length(text)) % 251 AS seed
  FROM documents WHERE doc_id < {_PNG_N_DOCS}
)
SELECT doc_id,
       cast(w AS INT) AS width,
       cast(h AS INT) AS height,
       cast(list_sum(list_transform(generate_series(0, w * h * 3 - 1),
            i -> (seed + 7 * (i // (w * 3)) + 3 * ((i // 3) % w) + 11 * (i % 3)) % 256))
            AS BIGINT) AS px_sum
FROM g
ORDER BY doc_id
"""


@register("multimodal_png_decode_stats", _PNG_ORACLE, tags=("multimodal", "codec"))
def multimodal_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _PNG_N_DOCS)
    g = docs.select(
        "doc_id",
        (F.lit(4) + F.col("doc_id") % 13).cast("int").alias("w"),
        (F.lit(4) + F.expr("(doc_id div 13) % 11")).cast("int").alias("h"),
        ((F.col("doc_id") * 97 + F.length("text")) % 251).cast("int").alias("seed"),
    )

    @pandas_udf("width int, height int, px_sum long")
    def _roundtrip(w: pd.Series, h: pd.Series, seed: pd.Series) -> pd.DataFrame:
        import numpy as np

        from event_streaming_spark.operators.multimodal import decode_image_meta, encode_png

        ws, hs, ss = [], [], []
        for w_, h_, sd in zip(w, h, seed):
            w_, h_, sd = int(w_), int(h_), int(sd)
            y, x, c = np.ogrid[0:h_, 0:w_, 0:3]
            img = ((sd + 7 * y + 3 * x + 11 * c) % 256).astype(np.uint8)
            _fmt, w_px, h_px, px_sum = decode_image_meta(encode_png(img))
            ws.append(w_px)
            hs.append(h_px)
            ss.append(px_sum)
        return pd.DataFrame({"width": ws, "height": hs, "px_sum": ss})

    stats = g.select("doc_id", _roundtrip("w", "h", "seed").alias("s"))
    return stats.select(
        "doc_id",
        F.col("s.width").alias("width"),
        F.col("s.height").alias("height"),
        F.col("s.px_sum").alias("px_sum"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# G.711 µ-law audio: a deterministic byte pattern goes through the RIFF
# container writer, the chunk-walking decoder, and the ITU-T expansion
# table; features are exact integers (Σ|pcm|, max|pcm|, energy-gate VAD
# over 160-sample telephony frames).  DuckDB replicates the µ-law closed
# form with bit operators — the 256-entry table and the SQL expression
# were cross-checked equal for every code byte (tests/test_codec_av.py).
# ---------------------------------------------------------------------------

_AUD_N_DOCS = 300
_AUD_FRAME = 160
_AUD_THRESHOLD = 957000


def _ulaw_abs_sql(idx: str) -> str:
    """|pcm| of payload byte ``(seed + 13*idx) % 256`` — µ-law expansion
    as pure integer SQL (u = complemented code byte)."""
    u = f"(255 - ((seed + 13 * ({idx})) % 256))"
    return (
        f"abs((CASE WHEN ({u} & 128) > 0 THEN -1 ELSE 1 END)"
        f" * (((({u} & 15) * 8 + 132) * (1 << (({u} >> 4) & 7))) - 132))"
    )


_AUD_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         {_AUD_FRAME} * (1 + doc_id % 4) AS n,
         (doc_id * 131 + length(text)) % 256 AS seed
  FROM documents WHERE doc_id < {_AUD_N_DOCS}
)
SELECT doc_id,
       cast(n AS INT) AS n_samples,
       cast(list_sum(list_transform(generate_series(0, n - 1),
            k -> {_ulaw_abs_sql('k')})) AS BIGINT) AS sum_abs,
       cast(list_max(list_transform(generate_series(0, n - 1),
            k -> {_ulaw_abs_sql('k')})) AS INT) AS peak_abs,
       cast(list_sum(list_transform(generate_series(0, n // {_AUD_FRAME} - 1),
            f -> CASE WHEN list_sum(list_transform(generate_series(0, {_AUD_FRAME - 1}),
                          j -> {_ulaw_abs_sql(f'f * {_AUD_FRAME} + j')}))
                          > {_AUD_THRESHOLD} THEN 1 ELSE 0 END)) AS INT) AS n_active_frames
FROM g
ORDER BY doc_id
"""


@register("multimodal_audio_vad_stats", _AUD_ORACLE, tags=("multimodal", "codec", "audio"))
def multimodal_audio_vad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _AUD_N_DOCS)
    g = docs.select(
        "doc_id",
        (F.lit(_AUD_FRAME) * (F.lit(1) + F.col("doc_id") % 4)).cast("int").alias("n"),
        ((F.col("doc_id") * 131 + F.length("text")) % 256).cast("int").alias("seed"),
    )

    @pandas_udf("n_samples int, sum_abs long, peak_abs int, n_active_frames int")
    def _roundtrip(n: pd.Series, seed: pd.Series) -> pd.DataFrame:
        import numpy as np

        from event_streaming_spark.operators.multimodal import (
            decode_audio_g711_integers,
            encode_wav,
        )

        ns, sa, pk, af = [], [], [], []
        for n_, sd in zip(n, seed):
            n_, sd = int(n_), int(sd)
            payload = ((sd + 13 * np.arange(n_, dtype=np.int64)) % 256).astype(np.uint8)
            wav = encode_wav(payload.tobytes(), audio_fmt=7)
            _sr, n_samples, sum_abs, peak_abs, n_active = decode_audio_g711_integers(
                wav, frame_len=_AUD_FRAME, active_threshold=_AUD_THRESHOLD
            )
            ns.append(n_samples)
            sa.append(sum_abs)
            pk.append(peak_abs)
            af.append(n_active)
        return pd.DataFrame(
            {"n_samples": ns, "sum_abs": sa, "peak_abs": pk, "n_active_frames": af}
        )

    stats = g.select("doc_id", _roundtrip("n", "seed").alias("s"))
    return stats.select(
        "doc_id",
        F.col("s.n_samples").alias("n_samples"),
        F.col("s.sum_abs").alias("sum_abs"),
        F.col("s.peak_abs").alias("peak_abs"),
        F.col("s.n_active_frames").alias("n_active_frames"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Audio fingerprint matching: a shift-invariant energy-peak constellation
# (the Shazam/Wang-2003 landmark shape restricted to the telephony band:
# peaks of the per-frame energy sequence; hash = (peak energy, next peak
# energy, frame gap)).  Clips are planted in residue classes sharing the
# same µ-law byte stream at DIFFERENT start offsets and lengths — the
# constellation hashes survive the shift (the whole point of landmark
# pairs), so re-uploads/clips of the same recording match on an EQUALITY
# join while cross-class collisions are energy-magnitude impossible.
# ---------------------------------------------------------------------------

_AFP_N_DOCS = 240
_AFP_GROUPS = 40
_AFP_FRAME = 160
_AFP_MAX_FRAMES = 18  # nf = 12 + (doc_id % 4) * 2 ∈ {12,14,16,18}

_AFP_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         12 + (doc_id % 4) * 2 AS nf,
         doc_id % 3 AS off,
         ((doc_id % {_AFP_GROUPS}) * 131 + 17) % 256 AS seed,
         2 * (doc_id % {_AFP_GROUPS}) + 13 AS mult
  FROM documents WHERE doc_id < {_AFP_N_DOCS}
), fe AS MATERIALIZED (
  SELECT doc_id, cast(t.f AS INTEGER) AS f,
         cast(list_sum(list_transform(generate_series(0, {_AFP_FRAME - 1}),
              j -> {{abs_expr}})) AS BIGINT) AS e
  FROM g, range({_AFP_MAX_FRAMES}) t(f) WHERE t.f < nf
), pk AS (
  SELECT doc_id, f, e,
         CASE WHEN e > lag(e) OVER w AND e > lead(e) OVER w
              THEN 1 ELSE 0 END AS ispk
  FROM fe WINDOW w AS (PARTITION BY doc_id ORDER BY f)
), hashes AS MATERIALIZED (
  SELECT doc_id, e1, e2, dt FROM (
    SELECT doc_id, e AS e1,
           lead(e) OVER wp AS e2,
           lead(f) OVER wp - f AS dt
    FROM pk WHERE ispk = 1
    WINDOW wp AS (PARTITION BY doc_id ORDER BY f)
  ) WHERE e2 IS NOT NULL
)
SELECT a.doc_id AS clip_a, b.doc_id AS clip_b,
       cast(count(*) AS BIGINT) AS n_shared
FROM hashes a
JOIN hashes b ON a.e1 = b.e1 AND a.e2 = b.e2 AND a.dt = b.dt
            AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY clip_a, clip_b
""".format(abs_expr=_ulaw_abs_sql(f"mult * ((t.f + off) * {_AFP_FRAME} + j)"))


@register(
    "multimodal_audio_fingerprint_match",
    _AFP_ORACLE,
    tags=("multimodal", "codec", "audio", "dedup"),
)
def multimodal_audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-pair audio fingerprinting over REAL G.711 WAV clips.

    Every clip goes through the actual container round-trip (µ-law
    payload → RIFF writer → chunk-walking decoder → expansion table →
    per-frame Σ|pcm|); fingerprints are (peak, next-peak, gap) triples
    of the energy sequence, invariant to the planted per-clip start
    offsets — one wrong byte in the writer, walker, or table flips the
    hash gate (the oracle predicts every energy via the µ-law closed
    form).

    Scale shape: the codec pass is ONE Arrow-batched pandas_udf
    emitting nf skinny frame rows per clip (samples never cross a
    shuffle); peaks/pairs are per-clip windows over frame-count rows;
    the match is an equi-join on the 3-part hash — the standard
    inverted-index shape, never all-pairs.  At 100 TB clips arrive as
    binary columns and every stage after the bytes is identical.

    Reference: whole-file ingest surface (src/file-utils.c:22-60); the
    pipeline past the bytes is north-star (no codecs in the C engine).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < _AFP_N_DOCS)
    g = docs.select(
        "doc_id",
        (F.lit(12) + (F.col("doc_id") % 4) * 2).cast("int").alias("nf"),
        (F.col("doc_id") % 3).cast("int").alias("off"),
        (((F.col("doc_id") % _AFP_GROUPS) * 131 + 17) % 256).cast("int").alias("seed"),
        # per-class odd multiplier: classes are DIFFERENT byte streams,
        # not phase shifts of one cyclic stream (13·mult stays odd, so
        # each class walks its own permutation of Z₂₅₆)
        (2 * (F.col("doc_id") % _AFP_GROUPS) + 13).cast("int").alias("mult"),
    )

    @pandas_udf("array<long>")
    def _energies(
        nf: pd.Series, off: pd.Series, seed: pd.Series, mult: pd.Series
    ) -> pd.Series:
        import numpy as np

        from event_streaming_spark.operators.multimodal import (
            decode_audio_frame_energies,
            encode_wav,
        )

        out = []
        for nf_, off_, sd, mu in zip(nf, off, seed, mult):
            nf_, off_, sd, mu = int(nf_), int(off_), int(sd), int(mu)
            n = nf_ * _AFP_FRAME
            idx = off_ * _AFP_FRAME + np.arange(n, dtype=np.int64)
            payload = ((sd + 13 * mu * idx) % 256).astype(np.uint8)
            wav = encode_wav(payload.tobytes(), audio_fmt=7)
            out.append(decode_audio_frame_energies(wav, _AFP_FRAME).tolist())
        return pd.Series(out)

    fe = g.select(
        "doc_id",
        F.posexplode(_energies("nf", "off", "seed", "mult")).alias("f", "e"),
    )
    w = Window.partitionBy("doc_id").orderBy("f")
    pk = fe.select(
        "doc_id",
        "f",
        "e",
        F.when(
            (F.col("e") > F.lag("e").over(w)) & (F.col("e") > F.lead("e").over(w)),
            1,
        )
        .otherwise(0)
        .alias("ispk"),
    )
    hashes = (
        pk.where(F.col("ispk") == 1)
        .select(
            "doc_id",
            F.col("e").alias("e1"),
            F.lead("e").over(w).alias("e2"),
            (F.lead("f").over(w) - F.col("f")).alias("dt"),
        )
        .where(F.col("e2").isNotNull())
    )
    a = hashes.select(
        F.col("doc_id").alias("clip_a"), "e1", "e2", "dt"
    )
    b = hashes.select(
        F.col("doc_id").alias("clip_b"),
        F.col("e1").alias("f1"),
        F.col("e2").alias("f2"),
        F.col("dt").alias("fdt"),
    )
    return (
        a.join(
            b,
            (F.col("e1") == F.col("f1"))
            & (F.col("e2") == F.col("f2"))
            & (F.col("dt") == F.col("fdt"))
            & (F.col("clip_a") < F.col("clip_b")),
        )
        .groupBy("clip_a", "clip_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .orderBy("clip_a", "clip_b")
    )
