"""Cross-engine-deterministic sketches: HyperLogLog and Count-Min.

Approximate sketches are usually engine-specific black boxes (Spark's
approx_count_distinct and DuckDB's approx_distinct disagree by design),
which forces the correctness gate down to a weak rows-only check.  These
implementations make the sketch itself REPRODUCIBLE: every hash is the
md5-derived stable_hash32 (functions/hashing.py) and every arithmetic
step is either exact-integer or a single rounded float op, so Spark and
the ANSI oracle build bit-identical registers and estimates — an
approximate ANSWER with an exact, hash-verifiable DEFINITION.

Scale shape (the reason sketches exist): both reduce unbounded key
cardinality to a FIXED-size state (m registers / d·w counters) with a
map-side-combining aggregate — the shuffle carries at most the sketch,
never the keys.  Sketches of disjoint partitions merge by max
(HLL) / sum (CM), so they compose across days/sources for free — the
same monoid discipline as operators/rollup.py.

HLL (Flajolet et al. 2007): bucket = top ``b`` bits of a 32-bit hash,
register = 1 + leading-zero count of the remaining ``32-b`` bits,
estimate = alpha·m²/Σ2^(-reg) with the standard small-range (linear
counting) correction.  The 2^(-reg) terms are dyadic rationals —
summing them SCALED BY 2³² is exact integer math; the only floats are
one division and (in the small branch) one ln(), rounded to 4 decimals
which absorbs any last-ulp libm difference between the JVM and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import sql_stable_hash32, stable_hash32

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

#: alpha_m constants from the HLL paper (m = 2^b)
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_registers_by(
    df: DataFrame, group_cols: list[str], key: Column, b: int = 6
) -> DataFrame:
    """The sketch STATE: ``(*group_cols, bucket, reg)`` rows, ≤ m = 2^b
    of them PER GROUP (with no group columns, one global register set).
    Registers of disjoint inputs merge by per-(group, bucket) max (a
    commutative, idempotent monoid) — union + :func:`hll_merge_by` gives
    the sketch of the union of the inputs, which is what makes the
    sketch streamable and partition-parallel."""
    w_bits = 32 - b
    h = stable_hash32(key.cast("string"))
    bucket = F.shiftright(h, w_bits)
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    # rank = 1 + leading zeros of the w_bits-wide suffix.  bin() prints
    # an integer without leading zeros in BOTH engines, so
    # length(bin(w)) is the bit position of w's highest set bit.
    rank = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    return (
        # NULL keys hash to NULL: drop them (COUNT(DISTINCT) semantics —
        # a NULL register row would inflate m_present in the finalizer)
        df.select(*group_cols, bucket.alias("bucket"), rank.alias("rank"))
        .where(F.col("bucket").isNotNull())
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_merge_by(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold a union of register sets back to one register set per group."""
    return regs.groupBy(*group_cols, "bucket").agg(F.max("reg").alias("reg"))


def hll_finalize_by(regs: DataFrame, group_cols: list[str], b: int = 6) -> DataFrame:
    """Estimates ``(*group_cols, hll_estimate)`` from register state (see
    module doc for the arithmetic)."""
    m = 1 << b
    # Σ 2^(-reg) scaled by 2³² is an exact integer sum; empty registers
    # contribute 2^(-0) = 1 each, added as (m - #present)·2³².
    # coalesce: with no group columns an EMPTY register set (no input
    # rows) must yield 0.0, not NULL — with s_scaled = 0 and m_present =
    # 0 the linear-counting branch below evaluates to m·ln(m/m) = 0 in
    # both engines.  Every group of a grouped set has a register.
    acc = regs.groupBy(*group_cols).agg(
        F.coalesce(
            F.sum(
                F.call_function("shiftleft", F.lit(1).cast("long"), 32 - F.col("reg"))
            ),
            F.lit(0).cast("long"),
        ).alias("s_scaled"),
        F.count(F.lit(1)).alias("m_present"),
    )
    raw = (_alpha(m) * m * m * float(1 << 32)) / (
        F.col("s_scaled") + (F.lit(m) - F.col("m_present")) * F.lit(1 << 32)
    )
    zeros = F.lit(m) - F.col("m_present")  # registers still at 0
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros), 4),
    ).otherwise(F.round(raw, 4))
    return acc.select(*group_cols, est.alias("hll_estimate"))


def sql_hll_estimate(key_expr: str, from_clause: str, b: int = 6) -> str:
    """ANSI/DuckDB estimate of ``key_expr``'s distinct count: the twin of
    :func:`hll_finalize_by` over :func:`hll_registers_by` with no group
    columns (one definition, two engines — every constant below mirrors
    the Column version)."""
    m = 1 << b
    w_bits = 32 - b
    mask = (1 << w_bits) - 1
    alpha = _alpha(m)
    h = sql_stable_hash32(f"cast({key_expr} AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT {h} AS h FROM {from_clause}
), br AS (
  SELECT h >> {w_bits} AS bucket,
         CASE WHEN (h & {mask}) = 0 THEN {w_bits + 1}
              ELSE {w_bits + 1} - length(bin(h & {mask})) END AS rank
  FROM hashed WHERE h IS NOT NULL
), regs AS (
  SELECT bucket, max(rank) AS reg FROM br GROUP BY bucket
), acc AS (
  SELECT coalesce(cast(sum(1::BIGINT << (32 - reg)) AS BIGINT), 0) AS s_scaled,
         count(*) AS m_present
  FROM regs
)
SELECT CASE
  WHEN ({alpha} * {m} * {m} * 4294967296.0)
         / (s_scaled + ({m} - m_present) * 4294967296) <= {2.5 * m}
       AND ({m} - m_present) > 0
  THEN round({float(m)} * ln({float(m)} / ({m} - m_present)), 4)
  ELSE round(({alpha} * {m} * {m} * 4294967296.0)
         / (s_scaled + ({m} - m_present) * 4294967296), 4)
END AS hll_estimate
FROM acc
"""


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def count_min_table(
    df: DataFrame, key: Column, depth: int = 4, width: int = 256
) -> DataFrame:
    """The CM counter table ``(d, pos, cnt)`` — d·width rows max,
    regardless of input cardinality.  Seeded rows fan out map-side
    (explode of ``depth`` ints), then ONE map-side-combining count."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")
    k = key.cast("string").alias("__k")
    return (
        # NULL keys dropped (as hll_registers_by does): hashing NULL yields
        # NULL positions — up to `depth` junk counter rows no lookup can
        # reach (NULL never equi-joins), silently breaking the d·width
        # row bound (r6 review).  count_min_lookup maps NULL to 0.
        df.select(k, seeds)
        .where(F.col("__k").isNotNull())
        .select(
            "d",
            F.pmod(
                stable_hash32(F.concat(F.col("d").cast("string"), F.lit("|"), F.col("__k"))),
                F.lit(width),
            ).alias("pos"),
        )
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_lookup(
    cm: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point estimates for ``keys``: min over the d rows each key hashes
    to.  ``cm`` is bounded (d·width rows) → broadcast to the keys side."""
    probes = keys.select(
        key_col,
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d"),
    ).withColumn(
        "pos",
        F.pmod(
            stable_hash32(
                F.concat(F.col("d").cast("string"), F.lit("|"), F.col(key_col).cast("string"))
            ),
            F.lit(width),
        ),
    )
    return (
        probes.join(F.broadcast(cm), ["d", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )


def sql_count_min_estimates(
    key_expr: str, from_clause: str, depth: int = 4, width: int = 256
) -> str:
    """ANSI twin: CM estimates for every distinct key in the input."""
    h = sql_stable_hash32(f"cast(d AS VARCHAR) || '|' || cast(k AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT cast({key_expr} AS VARCHAR) AS k FROM {from_clause}
), seeded AS (
  SELECT k, d, {h} % {width} AS pos
  FROM keyed CROSS JOIN (SELECT unnest(range({depth})) AS d)
), cm AS (
  SELECT d, pos, count(*) AS cnt FROM seeded GROUP BY d, pos
), probes AS (
  SELECT DISTINCT k, d, pos FROM seeded
)
SELECT probes.k, min(cm.cnt) AS cm_estimate
FROM probes JOIN cm USING (d, pos)
GROUP BY probes.k
"""


# ---------------------------------------------------------------------------
# Bottom-k quantile sketch
# ---------------------------------------------------------------------------


def bottomk_quantile_sample(
    df: DataFrame, group: Column, value: Column, ident: Column, k: int = 64
) -> DataFrame:
    """Deterministic bottom-k sample per group: the k rows whose
    md5-derived hash is smallest form a uniform sample that any engine,
    any partitioning, any run reproduces EXACTLY (unlike reservoir
    sampling, whose content depends on encounter order).  Mergeable:
    bottom-k of a union = bottom-k of the combined bottom-k's — the same
    monoid story as the HLL registers.

    Scale shape: a per-group count (one map-side-combining agg,
    group-cardinality rows, broadcast back) sets an integer hash
    threshold ≈ 4k/n so the window that ranks candidates sees ~4k rows
    per group, not n — the full-data sort the naive RANK()<=k plan
    would do never happens.  Wider-than-k survivors only cost a few
    rows; a shortfall (impossible beyond vanishing probability at 4×
    oversampling) would surface as a sample_n < k in the output.

    Returns ``(grp, hash, val)`` candidate rows ranked ≤ k.
    """
    from pyspark.sql import Window

    h = stable_hash32(F.concat(F.lit("q|"), ident.cast("string")))
    base = df.select(group.alias("grp"), value.alias("val"), h.alias("h"))
    counts = base.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    # greatest(..., 1): floor() reaches 0 once n > 4k·2³² and the sample
    # would silently be EMPTY; with 1 the sample degrades to expected
    # n/2³² rows instead (r6 review — beyond ~10¹² rows per group this
    # sketch wants a bigger hash, not a bigger k).
    thr = F.expr(f"greatest(({4 * k} * 4294967296) div n, 1)")
    cand = base.join(F.broadcast(counts.select("grp", thr.alias("thr"))), "grp").where(
        F.col("h") < F.col("thr")
    )
    # val tiebreak: two idents CAN collide on the 32-bit hash, and a
    # collision straddling rank k would otherwise pick by physical row
    # order — breaking the cross-run/cross-engine guarantee (r6 review).
    w = Window.partitionBy("grp").orderBy("h", "val")
    return (
        cand.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
        .select("grp", "h", "val")
    )


def sql_bottomk_quantile_sample(
    group_expr: str, value_expr: str, ident_expr: str, from_clause: str, k: int = 64
) -> str:
    """ANSI twin of :func:`bottomk_quantile_sample`."""
    h = sql_stable_hash32(f"'q|' || cast({ident_expr} AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT {group_expr} AS grp, {value_expr} AS val, {h} AS h FROM {from_clause}
), counts AS (
  SELECT grp, count(*) AS n FROM base GROUP BY grp
), cand AS (
  SELECT base.grp, base.val, base.h
  FROM base JOIN counts USING (grp)
  WHERE base.h < greatest(({4 * k} * 4294967296) // counts.n, 1)
), ranked AS (
  SELECT grp, h, val, row_number() OVER (PARTITION BY grp ORDER BY h, val) AS r
  FROM cand
)
SELECT grp, h, val FROM ranked WHERE r <= {k}
"""


def hll_estimate_by(
    df: DataFrame, group: Column, key: Column, b: int = 6
) -> DataFrame:
    """Per-group HLL estimates ``(grp, hll_estimate)`` — the grouped form
    (distinct users per day/type/source).  State: ≤ m registers PER
    GROUP, one (grp, bucket) shuffle."""
    regs = hll_registers_by(df.select(group.alias("grp"), key.alias("__k")), ["grp"], F.col("__k"), b)
    return hll_finalize_by(regs, ["grp"], b)


def sql_hll_estimate_by(
    group_expr: str, key_expr: str, from_clause: str, b: int = 6
) -> str:
    """ANSI twin of :func:`hll_estimate_by`."""
    m = 1 << b
    w_bits = 32 - b
    mask = (1 << w_bits) - 1
    alpha = _alpha(m)
    h = sql_stable_hash32(f"cast({key_expr} AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT {group_expr} AS grp, {h} AS h FROM {from_clause}
), br AS (
  SELECT grp, h >> {w_bits} AS bucket,
         CASE WHEN (h & {mask}) = 0 THEN {w_bits + 1}
              ELSE {w_bits + 1} - length(bin(h & {mask})) END AS rank
  FROM hashed WHERE h IS NOT NULL
), regs AS (
  SELECT grp, bucket, max(rank) AS reg FROM br GROUP BY grp, bucket
), acc AS (
  SELECT grp, sum(1::BIGINT << (32 - reg)) AS s_scaled, count(*) AS m_present
  FROM regs GROUP BY grp
)
SELECT grp, CASE
  WHEN ({alpha} * {m} * {m} * 4294967296.0)
         / (s_scaled + ({m} - m_present) * 4294967296) <= {2.5 * m}
       AND ({m} - m_present) > 0
  THEN round({float(m)} * ln({float(m)} / ({m} - m_present)), 4)
  ELSE round(({alpha} * {m} * {m} * 4294967296.0)
         / (s_scaled + ({m} - m_present) * 4294967296), 4)
END AS hll_estimate
FROM acc
"""
