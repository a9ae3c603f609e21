"""EventStore — the persistent event store with a timestamp secondary index.

Reference parity: Berkeley DB main store + secondary DB "indexed by
timestamps" (/root/reference/src/main.c:44,57-58; libdb dep
pre-build.sh:22-27; wiring absent in v0).

Spark-first translation (SURVEY D4/O11): a parquet table partitioned by
``event_date = to_date(ts)``.  The BDB secondary index becomes TWO free
mechanisms: (1) partition pruning on event_date for day-level ranges,
(2) parquet row-group min/max statistics on ts for intra-day ranges.
Keyed point reads ride the same scan with a pushed-down predicate.

Scale: date partitioning bounds each partition to one day of data; file
sizes are controlled by `maxRecordsPerFile`; at 100 TB this is the
standard time-series layout (append-only days, immutable history,
time-range queries touch only their days).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_spark.streaming.sinks import ledgered_sink


class EventStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str = "ts",
        max_records_per_file: int = 1_000_000,
    ) -> None:
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.max_records_per_file = max_records_per_file

    # -- writes ---------------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        """Append a batch, derive the partition column from event time."""
        (
            df.withColumn("event_date", F.to_date(F.col(self.ts_col)))
            .write.mode("append")
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy("event_date")
            .parquet(self.path)
        )

    def sink(self, stream_df: DataFrame, checkpoint: str):
        """Streaming append via foreachBatch.

        foreachBatch is at-least-once: a batch that fails after a partial
        append is REPLAYED on restart, which would duplicate rows.  A
        batch-id ledger (committed only after a successful append)
        deduplicates replays of every failure mode EXCEPT the narrow
        window between the append completing and the mark landing — a
        crash exactly there duplicates that one batch, because plain
        partitioned parquet has no transaction to make the data and the
        mark atomic.  That residual window is why exactly-once pipelines
        use ``VersionedStore.sink`` instead: there the batch id commits
        INSIDE the data manifest (the Delta ``txn`` action), so the
        change and its dedup mark publish atomically.
        """
        return ledgered_sink(
            stream_df, checkpoint, "store-ledger", lambda df, bid, scope: self.append(df)
        )

    def compact(
        self,
        event_date: dt.date,
        target_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> int:
        """Rewrite one day-partition into `target_files` files (small-file
        compaction).  Streaming appends create one file per micro-batch;
        at 100 TB that's the classic small-file problem — compact cold
        days so scans read few large row-groups.  Returns files after.

        ``sort_by`` clusters rows within the rewritten files (e.g.
        ["user_id"]) so parquet row-group min/max statistics prune keyed
        point reads — the poor man's Z-order for a single sort dimension.

        Crash-safety: the rewrite and the displaced partition both live in
        underscore-prefixed dirs, which Spark's file index IGNORES — a
        concurrent reader never sees the day twice, and a crash never
        leaves a bogus ``event_date=...`` partition value behind.  The
        only non-atomic window is between the two renames (day briefly
        absent); a crash there is repaired on the next compact() call,
        which restores the displaced partition before doing anything else.
        """
        import glob
        import os
        import shutil

        part, tmp, old = self._day_dirs(event_date)
        self._recover_day(part, tmp, old)
        if not os.path.isdir(part):
            return 0
        day = self.spark.read.parquet(part)
        if zorder_by:
            # multi-dimensional clustering: one range shuffle on the
            # interleaved key -> per-file min/max stats tight on EVERY
            # zorder column (operators/layout.py)
            from event_streaming_spark.operators.layout import cluster_by_zorder

            day = cluster_by_zorder(
                day, zorder_by, bits_per_col=zorder_bits, num_files=target_files
            )
            day.write.mode("overwrite").parquet(tmp)
        else:
            if sort_by:
                day = day.sort(*sort_by)
            (
                day.coalesce(target_files)
                .write.mode("overwrite")
                .parquet(tmp)
            )
        os.rename(part, old)
        os.rename(tmp, part)
        shutil.rmtree(old)
        return len(glob.glob(os.path.join(part, "*.parquet")))

    def _day_dirs(self, event_date: dt.date) -> tuple[str, str, str]:
        import os

        part = os.path.join(self.path, f"event_date={event_date.isoformat()}")
        tmp = os.path.join(self.path, f"_compacting-{event_date.isoformat()}")
        old = os.path.join(self.path, f"_old-{event_date.isoformat()}")
        return part, tmp, old

    @staticmethod
    def _recover_day(part: str, tmp: str, old: str) -> None:
        """Repair an interrupted rewrite: an interrupted swap leaves the
        day's data in `old`; stale rewrite output in `tmp` is garbage."""
        import os
        import shutil

        if os.path.isdir(old):
            if os.path.isdir(part):
                shutil.rmtree(old)  # swap completed; cleanup died
            else:
                os.rename(old, part)  # swap interrupted; restore the day
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)

    def delete_where(self, predicate, dates: list[dt.date] | None = None) -> int:
        """Targeted row deletion (GDPR erasure / retention purge).

        Parquet is immutable, so deletion = rewrite — the expensive part
        at 100 TB is WHICH files get rewritten.  This touches only the
        day-partitions that actually contain matching rows: one
        column-pruned scan finds the affected dates (callers who already
        know them — retention cutoffs, a subpoena's date range — pass
        ``dates`` and skip the scan entirely), then each affected day is
        rewritten without the matching rows through the same
        crash-recoverable underscore-dir swap as compact().  Partitions
        without matches keep their original files byte-for-byte — at
        production scale, deleting one user touches ~the days they were
        active, not the table.

        ``predicate`` (Column or SQL string) selects rows to DELETE; a
        NULL predicate value means "keep" (SQL DELETE semantics).  May
        reference ``event_date``.  Returns the number of rows deleted.
        """
        import os
        import shutil

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        if dates is None:
            dates = [
                r["event_date"]
                for r in self.read()
                .filter(pred)
                .select("event_date")
                .distinct()
                .collect()
            ]
        deleted = 0
        for d in sorted(dates):
            part, tmp, old = self._day_dirs(d)
            self._recover_day(part, tmp, old)
            if not os.path.isdir(part):
                continue
            day = self.spark.read.parquet(part).withColumn(
                "event_date", F.lit(d).cast("date")
            )
            hit = F.coalesce(pred, F.lit(False))
            # ONE scan for both totals (the old count/count pair read the
            # day twice before the rewrite read it a third time)
            n_before, n_hit = day.agg(
                F.count(F.lit(1)), F.sum(hit.cast("long"))
            ).collect()[0]
            n_keep = n_before - (n_hit or 0)
            keep = day.filter(~hit).drop("event_date")
            if n_keep == n_before:
                continue
            deleted += n_before - n_keep
            if n_keep == 0:  # whole day erased: drop the partition
                os.rename(part, old)
                shutil.rmtree(old)
                continue
            (
                keep.write.mode("overwrite")
                .option("maxRecordsPerFile", self.max_records_per_file)
                .parquet(tmp)
            )
            os.rename(part, old)
            os.rename(tmp, part)
            shutil.rmtree(old)
        return deleted

    # -- reads ------------------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read_range(self, start: dt.datetime, end: dt.datetime) -> DataFrame:
        """Time-range read: the event_date predicate prunes partitions
        (the 'secondary index by timestamp'); the ts predicate then rides
        row-group min/max within the surviving days."""
        df = self.read()
        return df.filter(
            (F.col("event_date") >= F.lit(start.date()))
            & (F.col("event_date") <= F.lit(end.date()))
            & (F.col(self.ts_col) >= F.lit(start))
            & (F.col(self.ts_col) < F.lit(end))
        )

    def read_key(self, key_col: str, key_value) -> DataFrame:
        """Keyed point read (BDB main-store get analogue) — predicate
        pushdown to parquet scan."""
        return self.read().filter(F.col(key_col) == F.lit(key_value))


class KeyIndex:
    """Secondary index for EventStore point reads: key → active dates.

    BDB's secondary DB maps key → records; the partition-pruned analogue
    maps key → the DAY-PARTITIONS containing it (one distinct (key,
    event_date) table, rebuilt incrementally per day).  A point read
    then touches only the key's active days — for a user active 30 days
    out of 3 years, a ~40× partition cut before parquet row-group stats
    (compact(sort_by=[key]) tightens those) take over inside each day.
    Stored under an underscore dir, invisible to store scans.
    """

    def __init__(self, store: EventStore, key_col: str) -> None:
        import os

        self.store = store
        self.key_col = key_col
        self.path = os.path.join(store.path, f"_index-{key_col}")

    def rebuild(self, dates: list[dt.date] | None = None) -> None:
        """Full rebuild, or refresh only ``dates`` (the incremental path
        after appending a day: one day's distinct keys, tiny)."""
        df = self.store.read()
        if dates is not None:
            df = df.filter(F.col("event_date").isin(*[F.lit(d) for d in dates]))
        idx = df.select(self.key_col, "event_date").distinct()
        if dates is None:
            idx.write.mode("overwrite").partitionBy("event_date").parquet(self.path)
        else:
            # day-partitioned overwrite-by-partition keeps other days
            # intact.  Scoped as a WRITER option, not session conf — a
            # session-wide partitionOverwriteMode=dynamic would silently
            # change every later mode('overwrite').partitionBy(...) in
            # the same session from overwrite-all to overwrite-matching.
            (
                idx.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("event_date")
                .parquet(self.path)
            )
            # Dynamic overwrite only touches partitions the frame WRITES:
            # a requested day whose rows are now all gone (delete_where
            # erased it) writes nothing, so its stale index partition
            # would survive forever and lookup() would keep probing a
            # dead day.  Drop those partitions explicitly.
            import os
            import shutil as _shutil

            present = {
                r["event_date"]
                for r in idx.select("event_date").distinct().collect()
            }
            for d in dates:
                if d not in present:
                    stale = os.path.join(self.path, f"event_date={d}")
                    if os.path.isdir(stale):
                        _shutil.rmtree(stale)

    def lookup(self, value) -> DataFrame:
        """Point read via the index: prune to the key's active days, then
        the key predicate rides row-group stats within them."""
        idx = self.store.spark.read.parquet(self.path)
        days = [
            r["event_date"]
            for r in idx.filter(F.col(self.key_col) == F.lit(value))
            .select("event_date")
            .distinct()
            .collect()
        ]
        if not days:
            return self.store.read().filter(F.lit(False))
        return self.store.read().filter(
            F.col("event_date").isin(*[F.lit(d) for d in days])
            & (F.col(self.key_col) == F.lit(value))
        )
