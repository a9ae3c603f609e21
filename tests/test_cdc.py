"""Incremental rollup: partial-aggregate algebra (operators/rollup.py)."""

from __future__ import annotations


def test_incremental_rollup_merge_invariance(spark):
    """Any batch split + any merge order must finalize identically."""
    from event_streaming_spark.operators.rollup import finalize, merge_partials, partial_rollup
    from event_streaming_spark.plans.catalog import load
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    ev = load(spark, SF_SMALL, "events").select(
        F.col("ts").cast("date").alias("d"), "event_type", "value", "event_id"
    )
    keys = ["d", "event_type"]
    direct = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(partial_rollup(ev, keys, "value"), keys).collect()}

    # three-way split, merged pairwise in a different order, re-merged again
    parts = [partial_rollup(ev.filter(F.col("event_id") % 3 == i), keys, "value") for i in range(3)]
    m = merge_partials(parts[2].unionByName(parts[0]), keys).unionByName(parts[1])
    got = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(m, keys).collect()}
    assert got == direct


def test_incremental_rollup_store_refresh(spark, tmp_path):
    """Partials persisted per refresh through the date-partitioned store;
    re-running a refresh for the same batch id replaces, not duplicates."""
    from event_streaming_spark.operators.rollup import finalize, partial_rollup
    from event_streaming_spark.plans.catalog import load
    from tests.conftest import SF_SMALL
    from pyspark.sql import functions as F

    ev = load(spark, SF_SMALL, "events").select(
        F.col("ts").cast("date").alias("d"), "event_type", "value", "event_id"
    )
    keys = ["d", "event_type"]
    base = str(tmp_path / "partials")

    def refresh(batch_df, batch_id: int) -> None:
        out = partial_rollup(batch_df, keys, "value").withColumn("batch_id", F.lit(batch_id))
        # idempotent per-batch refresh: overwrite that batch's partition only
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").partitionBy("batch_id").parquet(base)

    refresh(ev.filter(F.col("event_id") % 2 == 0), 0)
    refresh(ev.filter(F.col("event_id") % 2 == 1), 1)
    refresh(ev.filter(F.col("event_id") % 2 == 1), 1)  # replayed batch → no dup

    stored = spark.read.parquet(base).drop("batch_id")
    got = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(stored, keys).collect()}
    direct = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(partial_rollup(ev, keys, "value"), keys).collect()}
    assert got == direct
