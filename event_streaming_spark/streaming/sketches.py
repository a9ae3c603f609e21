"""Streaming sketches over one append-only per-batch log.

The batch sketches (operators/sketches.py) are monoids, so streaming them
needs NO new math: each micro-batch appends its own small sketch frame to
a durable log, and the live sketch is the monoid fold of the log at read
time.  This is the standard mergeable-summary pattern: state is
O(sketch size · #batches) until compaction, never O(#distinct keys), and
the log is append-only — crash-safe without coordination.  HLL folds
registers by per-bucket max, Count-Min counters by sum, theta hashes by
bottom-k; :class:`_SketchLog` holds everything else.

Idempotency: the sink is the shared :func:`ledgered_sink`, and each
batch's frame is staged under a batch-id-derived hidden name and
published with ONE atomic rename — the published directory itself IS the
idempotency mark, so there is no window where the append landed but the
mark did not (a crash there would have made replays double-append:
harmless for HLL — max is idempotent — but it would inflate Count-Min
counts).  The checkpoint-local ledger is a fast-path skip only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_spark.operators.sketches import (
    count_min_lookup,
    count_min_table,
    hll_finalize,
    hll_finalize_by,
    hll_merge,
    hll_merge_by,
    hll_registers,
    hll_registers_by,
)
from event_streaming_spark.streaming.sinks import ledgered_sink


class _SketchLog:
    """The per-batch log under ``self.path`` that every streaming sketch
    shares.  A sketch names its ledger (``_ledger``) and says only what
    differs: the frame one micro-batch appends (``_batch_frame``) and how
    the log's rows fold at read time (``_fold``).

    Publish: a batch's frame is staged under the dot-prefixed
    ``._staging-batch-{id}`` (invisible to Spark's file lister; overwrite
    clears any partial output a crashed run left) and published as
    ``batch-{id}`` with one rename, skipped when that directory exists.

    Compaction swap: the fold is written to ``<path>._compacting``, the
    live log displaced to ``<path>._old``, the fold renamed into place and
    ``._old`` removed.  Every read repairs an interrupted swap first
    (``_recover``)."""

    spark: SparkSession
    path: str
    key_col: str
    group_cols: list[str] | tuple[str, ...] = ()
    _ledger: str

    def _batch_frame(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _fold(self, raw: DataFrame) -> DataFrame:
        raise NotImplementedError

    def sink(self, stream_df: DataFrame, checkpoint: str):
        """Drain ``stream_df`` into the log: one published batch per
        micro-batch, idempotent under replay."""
        return ledgered_sink(stream_df, checkpoint, self._ledger, self._publish)

    def _publish(self, batch_df: DataFrame, batch_id: int, _txn_scope: str) -> None:
        target = os.path.join(self.path, f"batch-{batch_id}")
        if os.path.isdir(target):  # publish = atomic rename = mark
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"._staging-batch-{batch_id}")
        self._batch_frame(batch_df).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, target)

    def _swap_dirs(self) -> tuple[str, str]:
        """(fold output, displaced live log) of the compaction swap."""
        return self.path + "._compacting", self.path + "._old"

    def _recover(self) -> None:
        """Repair an interrupted compaction: data displaced to ``._old``
        with the live path missing → restore it; stale ``._compacting``
        output is garbage either way."""
        tmp, bak = self._swap_dirs()
        if os.path.isdir(bak):
            if os.path.isdir(self.path):
                shutil.rmtree(bak)
            else:
                os.rename(bak, self.path)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)

    def _merged(self) -> DataFrame:
        self._recover()
        if not os.path.isdir(self.path) or all(
            n.startswith((".", "_")) for n in os.listdir(self.path)
        ):
            # nothing published yet: the batch sketch over zero rows (keys
            # are hashed as strings, so a string-typed empty input is exact)
            cols = [*self.group_cols, self.key_col]
            empty = self.spark.range(0).select(
                *[F.lit(None).cast("string").alias(c) for c in cols]
            )
            return self._fold(self._batch_frame(empty))
        # per-batch subdirs + compacted top-level files in one listing
        raw = self.spark.read.option("recursiveFileLookup", "true").parquet(self.path)
        return self._fold(raw)

    def _compact(self) -> None:
        """Fold the log to one compacted file set (answers unchanged).
        Run only while no stream is writing this log: compaction erases
        the per-batch publish dirs that deduplicate replays, so a batch
        whose stream died between publish and ledger mark could
        re-append after a compact."""
        tmp, bak = self._swap_dirs()
        self._merged().coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(self.path, bak)
        os.rename(tmp, self.path)
        shutil.rmtree(bak)


class HllStreamingSketch(_SketchLog):
    _ledger = "hll-ledger"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        b: int = 6,
        group_cols: list[str] | None = None,
    ) -> None:
        """``group_cols`` turns this into a SEGMENTED distinct counter
        (per window/day/type/...): registers are kept per group and
        ``estimates()`` returns a DataFrame of per-group estimates —
        the streaming form of ``hll_estimate_by``.  State stays
        O(m · #groups), never O(#keys)."""
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.b = b
        self.group_cols = list(group_cols or [])

    def _batch_frame(self, batch_df: DataFrame) -> DataFrame:
        if self.group_cols:
            return hll_registers_by(batch_df, self.group_cols, F.col(self.key_col), self.b)
        return hll_registers(batch_df, F.col(self.key_col), self.b)

    def _fold(self, raw: DataFrame) -> DataFrame:
        if self.group_cols:
            return hll_merge_by(raw, self.group_cols)
        return hll_merge(raw)

    def registers(self) -> DataFrame:
        return self._merged()

    def estimates(self) -> DataFrame:
        """Per-group estimates (grouped mode only)."""
        if not self.group_cols:
            raise ValueError("estimates() requires group_cols; use estimate()")
        return hll_finalize_by(self.registers(), self.group_cols, self.b)

    def estimate(self) -> float:
        if self.group_cols:
            raise ValueError("grouped sketch: use estimates()")
        return float(
            hll_finalize(self.registers(), self.b).collect()[0]["hll_estimate"]
        )

    def compact(self) -> None:
        """Fold the append-only log back to ≤ m rows (optional hygiene;
        estimates are identical before and after).  Crash-recoverable and
        writer-exclusive as described in :meth:`_SketchLog._compact`."""
        self._compact()


class CountMinStreamingSketch(_SketchLog):
    """Streaming heavy-hitter state: per-micro-batch CM counter tables
    appended to a log (idempotent via ledger); the live sketch is the
    per-(d,pos) SUM at read — Count-Min's merge monoid is addition, so
    stream-accumulated counters equal the batch sketch over all data
    EXACTLY (asserted in tests).  State: ≤ d·w rows per batch."""

    _ledger = "cm-ledger"

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, depth: int = 4, width: int = 256
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def _batch_frame(self, batch_df: DataFrame) -> DataFrame:
        return count_min_table(batch_df, F.col(self.key_col), self.depth, self.width)

    def _fold(self, raw: DataFrame) -> DataFrame:
        return raw.groupBy("d", "pos").agg(F.sum("cnt").alias("cnt"))

    def table(self) -> DataFrame:
        return self._merged()

    def lookup(self, keys: DataFrame, key_col: str) -> DataFrame:
        return count_min_lookup(self.table(), keys, key_col, self.depth, self.width)


class ThetaStreamingSketch(_SketchLog):
    """Streaming KMV/theta sketch: mergeable distinct-count state that —
    unlike HLL — also supports direct SET OPERATIONS between two
    sketches (union / intersection estimates), the streaming twin of
    the batch queries ``sketch_theta_set_ops_users`` /
    ``sketch_theta_overlap_daily`` (plans/scale.py).

    Monoid: bottom-k of a union = bottom-k of the combined bottom-k's,
    so each micro-batch appends its own ≤ k smallest distinct hashes
    and the merged state is a k-row read-time fold.  Same atomic-rename
    idempotency as the HLL log (publish dir IS the mark); ``compact()``
    folds the log back to ≤ k rows without changing any estimate.

    Estimator (integer, engine/run-deterministic):
        theta = k-th smallest hash when saturated, else 2^32
        est   = |{h < theta}| * 2^32 div theta
    which degrades to the EXACT distinct count while unsaturated.
    """

    _ledger = "theta-ledger"

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, k: int = 256
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.k = k

    def _batch_frame(self, batch_df: DataFrame) -> DataFrame:
        from event_streaming_spark.functions.hashing import stable_hash32

        h = stable_hash32(
            F.concat(F.lit("theta|"), F.col(self.key_col).cast("string"))
        )
        return self._fold(batch_df.select(h.alias("h")))

    def _fold(self, raw: DataFrame) -> DataFrame:
        return raw.distinct().orderBy("h").limit(self.k)

    def hashes(self) -> DataFrame:
        """Merged sketch: the k smallest distinct hashes across batches."""
        return self._merged()

    def estimate(self) -> int:
        rows = [r["h"] for r in self.hashes().collect()]
        return self._estimate_from(sorted(rows))

    def _estimate_from(self, hs: list[int]) -> int:
        two32 = 1 << 32
        if len(hs) < self.k:
            return len(hs)
        theta = hs[-1]
        return (len(hs) - 1) * two32 // theta

    def set_ops(self, other: "ThetaStreamingSketch") -> dict[str, int]:
        """Union / intersection estimates between two sketches — the
        operation HLL registers cannot answer directly.  k-row driver
        math (both sketches are ≤ k hashes by construction)."""
        if other.k != self.k:
            raise ValueError("sketches must share k")
        two32 = 1 << 32
        a = sorted(r["h"] for r in self.hashes().collect())
        b = sorted(r["h"] for r in other.hashes().collect())
        union = sorted(set(a) | set(b))[: self.k]
        saturated = len(union) == self.k
        theta = union[-1] if saturated else two32
        below = len(union) - 1 if saturated else len(union)
        est_union = below * two32 // theta
        c = len([h for h in set(a) & set(b) if h < theta])
        return {
            "est_a": self._estimate_from(a),
            "est_b": other._estimate_from(b),
            "est_union": est_union,
            "est_intersection": c * two32 // theta,
        }

    def compact(self) -> None:
        """Fold the per-batch log to ≤ k rows (estimates unchanged).
        Same crash-repair contract as the HLL log; run only while no
        stream is writing."""
        self._compact()
