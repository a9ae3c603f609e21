"""Distributed global ordering primitives: row numbers and running sums
under a TOTAL order, without a single-partition window.

The anti-pattern these replace: ``Window.orderBy(...)`` with no
partitionBy collapses the whole input onto ONE task ("WindowExec: No
Partition Defined") — the slowest task in any catalog at scale.

The scalable plan (same skeleton for both primitives):

1. ``repartitionByRange`` on the order columns — parallel range buckets
   whose ids follow the global order;
2. pin the bucketed frame (``operators/materialize.py``) so the two
   consumers below see the SAME sampled bucket boundaries;
3. one tiny aggregate per bucket (count / sum) — O(#buckets) rows,
   metadata-scale, never data-scale — collected and prefix-summed on the
   driver;
4. a bucket-partitioned window for the local part + the bucket's offset
   folded back in via a broadcast join on the bucket id.

The bucket count is DATA-DRIVEN (``_n_buckets``): max(cores, session
shuffle partitions, plan-size estimate at ~128 MiB/bucket, capped) — a
fixed per-host constant would quietly under-partition at 100×.

Used by ``events_user_value_deciles`` (global ntile/percent_rank) and
``docs_pack_into_contexts`` (global token-offset packing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.operators.materialize import materialize

_PID = "__pid"

#: Target bytes of input per range bucket when plan statistics are
#: available — the shuffle-partition sizing rule of thumb.
_BYTES_PER_BUCKET = 128 << 20
#: Absolute bucket ceiling: offsets stay an O(#buckets) driver list
#: (driver-trivial at this bound) and range-sampling cost stays sane.
_MAX_BUCKETS = 1 << 18
#: How far the (unreliable) optimizer size estimate may raise the bucket
#: count above the configured parallelism.
_SIZE_HEADROOM = 4
#: Estimates beyond this are Catalyst selectivity-multiplication garbage
#: (measured 4.9e24 bytes for a 100k-row frame), not information —
#: ignored entirely rather than clamped.
_SANE_SIZE = 1 << 50  # 1 PiB


def _n_buckets(df: DataFrame) -> int:
    """Data-driven range-bucket count.

    A FIXED defaultParallelism bucket count silently under-partitions at
    scale: at 100× the data each of 32 buckets carries 100× the rows a
    task should hold.  Instead take the max of (a) defaultParallelism
    (never fewer buckets than cores), (b) the session's shuffle
    partitions (the knob operators already size to the deployment), and
    (c) the optimizer's size estimate at ~128 MiB per bucket.

    The estimate is TRUSTED ONLY UP TO ``_SIZE_HEADROOM`` × the
    configured parallelism: Catalyst's post-join estimates multiply
    selectivities and can be off by many orders of magnitude (measured
    4.9e24 bytes for a 100k-row frame inside events_mad_outliers, which
    turned one range shuffle into a 36k-task stage).  The estimate's
    only legitimate job is rescuing an under-set conf, so a bounded
    multiple keeps that rescue while capping the damage of a garbage
    estimate at task-overhead, not orders of magnitude."""
    sess = df.sparkSession
    floor = sess.sparkContext.defaultParallelism
    try:
        conf = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf = floor
    base = max(floor, conf)
    by_size = 0
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size < _SANE_SIZE:
            by_size = -(-size // _BYTES_PER_BUCKET)
    except Exception:  # pragma: no cover - stats unavailable on some plans
        pass
    return min(max(base, min(by_size, _SIZE_HEADROOM * base)), _MAX_BUCKETS)


def _bucketize(df: DataFrame, order_cols: list[Column], name: str) -> DataFrame:
    return materialize(
        df.repartitionByRange(_n_buckets(df), *order_cols).withColumn(
            _PID, F.spark_partition_id()
        ),
        name,
    )


def _offsets_join(bucketed: DataFrame, agg: Column) -> tuple[DataFrame, int]:
    """Per-bucket prefix offsets as a joinable ``(__pid, __off)`` frame +
    the global total.  A join (not a literal array lookup) keeps the plan
    valid at ANY bucket count — a 10⁵-entry literal array would blow
    codegen, while a 10⁵-row join side is trivial.  No forced broadcast
    (repo discipline: hints only on FIXED-cardinality sides); AQE sees a
    few-KB build side at runtime and picks the broadcast join itself,
    and the big side is already hash-clustered on __pid for the window,
    so even the sort-merge fallback reuses that exchange."""
    rows = bucketed.groupBy(_PID).agg(agg.alias("v")).collect()
    per_bucket = {r[_PID]: r["v"] or 0 for r in rows}
    offsets, running = [], 0
    for pid in range(max(per_bucket, default=-1) + 1):
        offsets.append((pid, running))
        running += per_bucket.get(pid, 0)
    spark = bucketed.sparkSession
    # local_frame (Arrow→JVM), not createDataFrame (pickle→PythonRDD):
    # the offsets join side is re-evaluated with every consumer of the
    # ranked frame, and the pickle path pays a Python worker round-trip
    # per evaluation (guide §4; measured seconds per run on slow-spawn
    # hosts).
    off = local_frame(spark, offsets or [(0, 0)], f"{_PID} int, __off long")
    return off, running


def with_global_row_number(
    df: DataFrame, order_cols: list[Column], out_col: str = "rn"
) -> tuple[DataFrame, int]:
    """``row_number() OVER (ORDER BY order_cols)`` semantics, distributed.

    ``order_cols`` must be a total order (include a unique tiebreak).
    Returns ``(df + out_col, total_row_count)`` — the count rides along
    free from the offsets pass.
    """
    bucketed = _bucketize(df, order_cols, "global-rn-buckets")
    off, total = _offsets_join(bucketed, F.count(F.lit(1)))
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    rn = (F.col("__off") + F.row_number().over(w)).cast("long")
    return (
        bucketed.join(off, _PID).withColumn(out_col, rn).drop(_PID, "__off"),
        total,
    )


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cumsum",
) -> tuple[DataFrame, int]:
    """``sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)``,
    distributed.  ``value_col`` must be integral (exact offsets).
    Returns ``(df + out_col, global_total)``."""
    bucketed = _bucketize(df, order_cols, "global-cumsum-buckets")
    off, total = _offsets_join(bucketed, F.sum(F.col(value_col).cast("long")))
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = (F.col("__off") + F.sum(F.col(value_col).cast("long")).over(w)).cast("long")
    return (
        bucketed.join(off, _PID).withColumn(out_col, cs).drop(_PID, "__off"),
        int(total),
    )


def with_group_rank(
    df: DataFrame,
    group_col: str,
    order_col: Column | str,
    rv_col: str = "rv",
    n_col: str = "n",
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY order)`` plus
    ``count(*) OVER (PARTITION BY group)`` — WITHOUT a one-task-per-group
    sort window.

    The hash-window form is the classic low-cardinality trap: PARTITION
    BY event_type hash-shuffles every group onto ONE task, so a 5-type
    100 TB table sorts 20 TB per task.  Here the global-row-number
    skeleton range-partitions on (group, order) — a group SPANS many
    buckets, each sorted locally — and the per-group rank falls out as
    ``global_rn − group_start + 1`` with group starts/sizes from one
    tiny aggregate (O(#groups) rows, joined back; AQE broadcasts it —
    no forced hint, group cardinality is a bounded domain, not a
    data-scaling build side).

    Tie order within equal ``order_col`` values is engine-arbitrary
    (same as the window form); callers that read VALUES at rank
    positions (exact percentiles — functions/numeric.py contract) are
    deterministic regardless, because all rows in a tie run carry the
    same value.
    """
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    ranked, _ = with_global_row_number(
        df, [F.col(group_col), order], out_col="__grn"
    )
    bounds = ranked.groupBy(group_col).agg(
        F.min("__grn").alias("__g0"), F.count(F.lit(1)).alias(n_col)
    )
    # Null-SAFE equality on the group key: the window form this replaces
    # keeps NULL as its own partition, but a plain equi-join never
    # matches NULL = NULL and silently DROPPED every NULL-group row.
    b = bounds.withColumnRenamed(group_col, "__gk")
    return (
        ranked.join(b, ranked[group_col].eqNullSafe(F.col("__gk")))
        .withColumn(rv_col, F.col("__grn") - F.col("__g0") + 1)
        .drop("__grn", "__g0", "__gk")
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column],
    k: int,
    rn_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group under ``order_cols``: one ``row_number()``
    window plus an ``rn <= k`` filter; no task sorts a whole group.

    A bare rank window puts each group through ONE task; for ANN-style
    plans where "group" is a query id and the rows are corpus-scaled
    candidates, that is billions of rows per task at 100 TB.  Spark's
    ``InferWindowGroupLimit`` rewrites this window-plus-filter shape into
    a map-side ``WindowGroupLimit … Partial`` (each map partition keeps
    its k best rows per group) below the group shuffle and a ``Final``
    limit above it, so at most k × #map-partitions rows per group reach
    one task — bounded by cluster config, not by data.  The rewrite needs
    k ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000;
    the catalog's largest k is 100); tests/test_scale_ops.py pins the
    plan shape.

    ``order_cols`` must totally order rows within a group (include a
    unique tiebreak) so the result is deterministic.
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return df.withColumn(rn_col, F.row_number().over(w)).filter(F.col(rn_col) <= k)
