"""VersionedStore — snapshot isolation + time travel over plain parquet.

Reference parity note: the reference's store is a mutable Berkeley-DB
file with no history (/root/reference/src/main.c:44-58).  At 100 TB the
mutable-store model breaks: readers racing a rewrite see half-states,
deletes can't be audited, and a bad pipeline run is unrecoverable.  The
lakehouse answer (Delta/Iceberg, re-derived here from first principles
with zero dependencies) is: DATA FILES ARE IMMUTABLE, and a table
version is just a MANIFEST — a JSON list of the files that constitute
that snapshot.

- Commits are atomic: the manifest is staged to a temp name and
  published with ``os.link`` (create-if-absent), so version N+1 either
  exists completely or not at all.  Concurrent committers race on the
  link; the loser re-reads the new head and retries its commit on top
  (optimistic concurrency, bounded retries).
- Readers are isolated for free: a read pins one manifest; every file
  it names is immutable, so a concurrent append/delete/compact can NOT
  change or tear what the reader sees — no locks anywhere.
- Time travel: ``read(version=k)`` reconstructs any retained snapshot;
  every destructive operation (delete_where, compact) just writes NEW
  files + a NEW manifest, leaving history readable for audit/rollback.
- ``vacuum`` is the only thing that ever deletes a data file, and only
  files unreferenced by the retained manifest window.

Scale: a manifest holds file paths, not row data — O(#files), kept
small by compact().  File-level delete granularity ("rewrite only files
containing matching rows") is exactly Delta's copy-on-write semantics.
Rows are traced to their file by the _metadata.file_path pseudo
column: ``delete_where`` collects the files its predicate hits, then
rewrites them; ``merge`` rewrites every candidate file in one write
partitioned by source file and keeps only the hit files' output.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.streaming.sinks import ledgered_sink


def _publish_json(directory: str, name: str, record: dict) -> bool:
    """Atomically create ``directory/name`` holding ``record`` as JSON,
    only if absent; returns whether this call created it.  The record is
    staged to a ``.tmp-*`` file and hard-linked into place (one link
    attempt: readers never see a partial file, and of two racing
    publishers exactly one wins)."""
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(record, fh)
    try:
        os.link(tmp, os.path.join(directory, name))  # atomic create-if-absent
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


# A file's key range when no row of it has a non-NULL key: an equi-join
# can never match it.  (``None`` means the footer cannot tell.)
_NO_KEY = ()


def _range_kind(dt) -> type | None:
    """The Python type of a footer min/max whose order agrees with
    Spark's equality on ``dt``: integral types, dates, and strings under
    the default binary collation (parquet orders strings by unsigned
    bytes, which for UTF-8 is code point order, as ``str`` compares).
    None for every other type — its files get no range."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int
    if isinstance(dt, T.DateType):
        return datetime.date
    if dt == T.StringType():
        return str
    return None


def _footer_key_range(path: str, key: str, kind: type) -> tuple | None:
    """``(min, max)`` of column ``key`` over a parquet file, from its
    footer (driver-side, no Spark job): ``_NO_KEY`` when no row has a
    non-NULL key, None when the footer cannot tell — the file predates
    the column, a row group has no stats, or a bound is not a ``kind``."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        cols = [rg.column(j) for j in range(rg.num_columns)]
        st = next((c.statistics for c in cols if c.path_in_schema == key), None)
        if st is not None and st.has_min_max:
            if type(st.min) is not kind or type(st.max) is not kind:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or st.null_count != rg.num_rows:
            return None  # rows with keys the footer gives no range for
    return _NO_KEY if lo is None else (lo, hi)


def _span(ranges: list) -> tuple | None:
    """The smallest range covering ``ranges``: None if any is unknown."""
    if None in ranges:
        return None
    known = [r for r in ranges if r]
    if not known:
        return _NO_KEY
    return min(r[0] for r in known), max(r[1] for r in known)


def _may_match(r: tuple | None, span: tuple | None) -> bool:
    """Can a file with key range ``r`` hold a key inside ``span``?"""
    if r == _NO_KEY or span == _NO_KEY:
        return False
    if r is None or span is None:
        return True
    return r[0] <= span[1] and span[0] <= r[1]


def _file_name():
    """The data file name of each scanned row: ``_metadata.file_path``
    is a URI, and a name is unique by construction (every staged file
    embeds a uuid)."""
    return F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)


class CommitConflict(RuntimeError):
    pass


class SchemaConflict(ValueError):
    """Append schema is incompatible with the table schema (same-name
    column with a different type, or a new column without
    ``merge_schema=True``)."""


class VersionedStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        # committed_txns() cache: manifests are immutable, so the token a
        # version carries never changes — see committed_txns for why.
        self._txn_by_version: dict[int, str | None] = {}
        # _key_range() cache: data files are immutable too.
        self._key_ranges: dict[tuple, tuple | None] = {}

    # -- manifest plumbing ----------------------------------------------------
    def latest_version(self) -> int:
        """Highest committed version, or -1 for an empty table."""
        vs = [
            int(f[1:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(vs, default=-1)

    def _manifest(self, version: int) -> dict:
        p = os.path.join(self.manifest_dir, f"v{version}.json")
        with open(p) as fh:
            return json.load(fh)

    def files(self, version: int | None = None) -> list[str]:
        v = self.latest_version() if version is None else version
        if v < 0:
            return []
        return [os.path.join(self.data_dir, f) for f in self._manifest(v)["files"]]

    def _commit(
        self,
        compute_files,
        op: str,
        retries: int = 20,
        txn: str | None = None,
        compute_schema=None,
        compute_deletes=None,
    ) -> int:
        """Publish a new manifest atomically.  ``compute_files`` maps the
        parent's file list → the child's (called fresh per attempt so a
        lost race recomputes against the new head).

        ``txn``: idempotency token recorded INSIDE the manifest (the
        Delta `txn` action).  A writer that replays work (at-least-once
        foreachBatch) checks ``committed_txns()`` before committing, so
        the data change and its dedup mark are one atomic publish — a
        crash can never leave the change committed but unmarked."""
        for _ in range(retries):
            parent = self.latest_version()
            if txn is not None and txn in self.committed_txns():
                return parent  # replay of an already-committed transaction
            parent_manifest = self._manifest(parent) if parent >= 0 else {}
            # Compute EVERYTHING before the tmp file exists: a raising
            # compute_* (SchemaConflict, tombstone CommitConflict) must
            # not leak a .tmp-* manifest that nothing ever sweeps.
            files = compute_files(parent_manifest.get("files", []))
            nxt = parent + 1
            record = {"version": nxt, "parent": parent, "op": op, "files": files}
            # Schema rides in the manifest (Delta's metaData action):
            # schema-changing commits pass compute_schema (re-run per
            # attempt, so a lost race re-merges against the racing
            # winner's schema); every other commit inherits.
            schema_json = (
                compute_schema(parent_manifest)
                if compute_schema is not None
                else parent_manifest.get("schema")
            )
            if schema_json is not None:
                record["schema"] = schema_json
            # Equality-delete tombstones (merge-on-read): inherited
            # by every commit unless the commit materializes them
            # (compact) or adds new ones (delete_keys_where).
            deletes = (
                compute_deletes(parent_manifest)
                if compute_deletes is not None
                else parent_manifest.get("delete_files", [])
            )
            if deletes:
                record["delete_files"] = deletes
            if txn is not None:
                record["txn"] = txn
            if _publish_json(self.manifest_dir, f"v{nxt}.json", record):
                return nxt
            # lost the race: retry on the new head
        raise CommitConflict(f"gave up after {retries} commit attempts ({op})")

    def committed_txns(self) -> set[str]:
        """Idempotency tokens recorded by retained manifests.  Retention
        caveat (same as Delta's txn retention): vacuum() drops old
        manifests, so a replay arriving AFTER its manifest was vacuumed
        is no longer deduplicated by this check alone — the streaming
        sinks keep their checkpoint-local ledger as a second line.

        Manifests are immutable, so tokens are cached per version on the
        instance: each call reads only versions it hasn't seen (O(new)
        instead of O(all) JSON parses per commit — a long-running sink
        was paying O(N²) driver I/O over its life).  Vacuumed versions
        drop out of the returned set, preserving retention semantics."""
        present: set[int] = set()
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                v = int(f[1:-5])
                present.add(v)
                if v not in self._txn_by_version:
                    self._txn_by_version[v] = self._manifest(v).get("txn")
        return {
            t for v, t in self._txn_by_version.items() if v in present and t is not None
        }

    @contextlib.contextmanager
    def _staging_dir(self):
        """A fresh ``_staging-*`` dir under the table path for one Spark
        write, removed on every exit path: what is not adopted into
        data/ by then is discarded."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        try:
            yield staging
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _adopt(self, src: str, tag: str) -> list[str]:
        """Move the parquet files of dir ``src`` into data/ under
        immutable unique names; returns the new names."""
        moved = []
        for name in sorted(os.listdir(src)):
            if not name.endswith(".parquet"):
                continue
            unique = f"{tag}-{uuid.uuid4().hex}-{name}"
            os.rename(os.path.join(src, name), os.path.join(self.data_dir, unique))
            moved.append(unique)
        return moved

    def _stage_files(self, df: DataFrame, tag: str) -> list[str]:
        """Write ``df`` to immutable uniquely-named files in data/."""
        with self._staging_dir() as staging:
            df.write.parquet(staging)
            return self._adopt(staging, tag)

    @contextlib.contextmanager
    def _discard_on_failure(self):
        """A list for the data/ names a writer stages before its commit:
        if the block raises (a failed rewrite, SchemaConflict,
        CommitConflict, a retried streaming batch), the listed files are
        removed instead of waiting for vacuum as orphans.  A hard crash
        still leaves them; vacuum remains the backstop for that."""
        staged: list[str] = []
        try:
            yield staged
        except BaseException:
            for f in staged:
                try:
                    os.remove(os.path.join(self.data_dir, f))
                except OSError:
                    pass
            raise

    # -- operations -----------------------------------------------------------
    def table_schema(self, version: int | None = None):
        """The snapshot's recorded StructType (schema time travel: an
        old version reads with the schema it was committed under), or
        None for pre-schema-tracking manifests (they fall back to
        parquet self-description)."""
        v = self.latest_version() if version is None else version
        if v < 0:
            return None
        sj = self._manifest(v).get("schema")
        return T.StructType.fromJson(json.loads(sj)) if sj else None

    @staticmethod
    def _merged_schema(cur, new_schema, merge_schema: bool):
        """Validate ``new_schema`` against table schema ``cur``; return
        the evolved StructType.  Rules (Delta semantics): same-name
        columns must keep their type; columns MISSING from the append
        are fine (read fills NULL); NEW columns require
        ``merge_schema=True`` and extend the table schema."""
        cur_by_name = {f.name: f for f in cur.fields}
        added = []
        for f in new_schema.fields:
            have = cur_by_name.get(f.name)
            if have is None:
                added.append(f)
            elif have.dataType != f.dataType:
                raise SchemaConflict(
                    f"column {f.name!r}: table has {have.dataType.simpleString()}, "
                    f"append has {f.dataType.simpleString()}"
                )
        if added and not merge_schema:
            raise SchemaConflict(
                f"append adds columns {[f.name for f in added]}; "
                "pass merge_schema=True to evolve the table schema"
            )
        return T.StructType(cur.fields + added)

    def _schema_after(self, df_schema, merge_schema: bool):
        """``compute_schema`` for a commit that adds files written with
        ``df_schema``: the first commit defines the table schema, later
        ones must fit it (:meth:`_merged_schema`)."""

        def compute_schema(parent_manifest: dict) -> str:
            sj = parent_manifest.get("schema")
            if sj is None and parent_manifest.get("files"):
                # pre-tracking table: adopt its on-disk schema first
                sj = self.read(parent_manifest["version"]).schema.json()
            if sj is None:
                return df_schema.json()  # first commit defines the schema
            cur = T.StructType.fromJson(json.loads(sj))
            return self._merged_schema(cur, df_schema, merge_schema).json()

        return compute_schema

    def append(self, df: DataFrame, txn: str | None = None, merge_schema: bool = False) -> int:
        if txn is not None and txn in self.committed_txns():
            return self.latest_version()  # don't even stage replayed data
        with self._discard_on_failure() as new:
            new += self._stage_files(df, "append")
            return self._commit(
                lambda prev: prev + new,
                "append",
                txn=txn,
                compute_schema=self._schema_after(df.schema, merge_schema),
            )

    # -- tags (named immutable refs, Iceberg-style) ---------------------------
    @property
    def _refs_dir(self) -> str:
        d = os.path.join(self.path, "_refs")
        os.makedirs(d, exist_ok=True)
        return d

    @staticmethod
    def _check_ref_name(name: str) -> None:
        if not name or not all(c.isalnum() or c in "-_." for c in name):
            raise ValueError(f"invalid ref name: {name!r}")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a snapshot (default: the current head).  Tags
        are IMMUTABLE refs (Iceberg `tag` semantics): creating an
        existing name raises — delete_tag first to move it.  The tagged
        version is vacuum-protected until the tag is deleted, so
        ``read(tag=...)`` keeps working regardless of retention.

        Publication is atomic create-if-absent (O_EXCL), the same
        discipline as manifest commits — two racing taggers get one
        winner and one error, never a half-written ref."""
        self._check_ref_name(name)
        v = self.latest_version() if version is None else version
        if v < 0 or not os.path.exists(os.path.join(self.manifest_dir, f"v{v}.json")):
            raise ValueError(f"no snapshot at version {v!r}")
        if not _publish_json(self._refs_dir, f"{name}.json", {"name": name, "version": v}):
            raise ValueError(f"tag exists: {name!r}")
        return v

    def resolve_tag(self, name: str) -> int:
        self._check_ref_name(name)
        p = os.path.join(self._refs_dir, f"{name}.json")
        if not os.path.exists(p):
            raise ValueError(f"no such tag: {name!r}")
        with open(p) as fh:
            return json.load(fh)["version"]

    def delete_tag(self, name: str) -> None:
        self._check_ref_name(name)
        try:
            os.unlink(os.path.join(self._refs_dir, f"{name}.json"))
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name!r}") from None

    def tags(self) -> dict[str, int]:
        out = {}
        for f in sorted(os.listdir(self._refs_dir)):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(self._refs_dir, f)) as fh:
                    r = json.load(fh)
                out[r["name"]] = r["version"]
        return out

    # -- branches (named WRITABLE refs, zero-copy fork) ------------------------
    def branch_store(self, name: str) -> "VersionedStore":
        """Open the handle for branch ``name``: same table path and DATA
        directory (zero copy — branch commits reference and add files in
        place), manifests namespaced under
        ``_manifests/branches/<name>/``.  The handle is a full
        VersionedStore: append/merge/delete/table_changes/time-travel
        all work on the branch lineage."""
        self._check_ref_name(name)
        br = VersionedStore.__new__(VersionedStore)
        br.spark = self.spark
        br.path = self.path
        br.data_dir = self.data_dir
        br.manifest_dir = os.path.join(self.manifest_dir, "branches", name)
        os.makedirs(br.manifest_dir, exist_ok=True)
        br._txn_by_version = {}
        br._key_ranges = {}
        return br

    def branch(self, name: str, from_version: int | None = None) -> "VersionedStore":
        """Create branch ``name`` forked at ``from_version`` (default:
        head) — Iceberg branch semantics: a named WRITABLE ref whose v0
        references the fork snapshot's files by name (no data is
        copied).  Writers on the branch never contend with writers on
        main (separate manifest lineages, shared immutable data files);
        ``merge_branch`` publishes the branch atomically.

        Retention caveat (same as Iceberg): ``vacuum`` on main is not
        branch-aware — keep branches short-lived or vacuum after merge.
        """
        self._check_ref_name(name)
        from_v = self.latest_version() if from_version is None else from_version
        if from_v < 0 or not os.path.exists(
            os.path.join(self.manifest_dir, f"v{from_v}.json")
        ):
            raise ValueError(f"no snapshot at version {from_v!r}")
        br = self.branch_store(name)
        fork = self._manifest(from_v)
        record = {
            "version": 0,
            "parent": -1,
            "op": "branch",
            "files": list(fork.get("files", [])),
            "fork_of": from_v,
        }
        if fork.get("schema") is not None:
            record["schema"] = fork["schema"]
        if fork.get("delete_files"):
            record["delete_files"] = fork["delete_files"]
        if not _publish_json(br.manifest_dir, "v0.json", record):
            raise ValueError(f"branch exists: {name!r}")
        return br

    def merge_branch(self, name: str) -> int:
        """Fast-forward publish: make main's next version the branch's
        head state (files, schema, tombstones) in ONE atomic commit.
        Raises :class:`CommitConflict` if main advanced past the fork
        point — the branch must be re-created (rebased) from the new
        head; silently merging would drop main's interim commits.  The
        conflict check re-runs per commit attempt inside ``_commit``, so
        a race with another main writer is detected, never clobbered."""
        br = self.branch_store(name)
        head = br.latest_version()
        if head < 0:
            raise ValueError(f"no such branch: {name!r}")
        bm = br._manifest(head)
        fork_v = br._manifest(0)["fork_of"]

        def compute_files(parent_files: list[str]) -> list[str]:
            if self.latest_version() != fork_v:
                raise CommitConflict(
                    f"main advanced past fork v{fork_v} of branch {name!r}; "
                    "re-branch from the new head and replay"
                )
            return list(bm.get("files", []))

        return self._commit(
            compute_files,
            "merge_branch",
            compute_schema=lambda pm: bm.get("schema", pm.get("schema")),
            compute_deletes=lambda pm: bm.get("delete_files", []),
        )

    def _read_projected(self, files: list[str], schema) -> DataFrame:
        """The one definition of the snapshot read (shared by read,
        read_files and merge so they can never diverge): the manifest
        schema IS the read schema.  It pins column order, and parquet
        fills a column that a file predates (schema evolution) with
        NULL, so no footer is opened to infer or union file schemas —
        no ``mergeSchema`` job.  Pre-schema-tracking manifests (schema
        None) fall back to parquet self-description."""
        if schema is None:
            return self.spark.read.parquet(*files)
        return self.spark.read.schema(schema).parquet(*files)

    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.resolve_tag(tag)
        # Pin ONE manifest up front: resolving "latest" separately for
        # the file list, the schema, and the tombstones would let a
        # concurrent commit tear the snapshot (e.g. vN's files under
        # vN+1's cleared tombstones resurrecting deleted rows).
        if version is None:
            version = self.latest_version()
        files = self.files(version)
        if not files:
            raise ValueError(f"no snapshot at version {version!r}")
        df = self._read_projected(files, self.table_schema(version))
        return self._apply_deletes(df, version)

    def read_files(self, files: list[str], version: int | None = None) -> DataFrame:
        """Snapshot-consistent read of a SUBSET of a version's data files
        (the contract data-skipping layers need: prune the file list, but
        keep the snapshot semantics).  Reads with the same manifest schema
        and equality-tombstone anti-join as :meth:`read`, so a
        pruned scan can never resurrect deleted rows or see a
        pre-evolution schema.  ``files`` must belong to ``version``."""
        v = self.latest_version() if version is None else version
        allowed = set(self.files(v))
        stray = [f for f in files if f not in allowed]
        if stray:
            raise ValueError(f"files not in snapshot v{v}: {stray[:3]}")
        schema = self.table_schema(v)
        if not files:
            if schema is not None:
                # nothing to scan: an empty frame of the snapshot schema,
                # built without listing or reading any file
                return local_frame(self.spark, [], schema)
            return self.read(v).where(F.lit(False))
        df = self._read_projected(files, schema)
        return self._apply_deletes(df, v)

    def _apply_deletes(self, df: DataFrame, version: int | None) -> DataFrame:
        """Merge-on-read: anti-join the snapshot's equality tombstones
        (per key column) onto the base read.  No tombstones → no-op."""
        v = self.latest_version() if version is None else version
        dels = self._manifest(v).get("delete_files", []) if v >= 0 else []
        if not dels:
            return df
        schema = self.table_schema(v)
        by_key: dict[str, list[str]] = {}
        for d in dels:
            by_key.setdefault(d["key"], []).append(
                os.path.join(self.data_dir, d["file"])
            )
        for key, paths in sorted(by_key.items()):
            # a tombstone file holds the one key column, typed as the table's
            key_schema = (
                T.StructType([schema[key]])
                if schema is not None and key in schema.fieldNames()
                else None
            )
            keys = self._read_projected(paths, key_schema).select(key).distinct()
            df = df.join(keys, key, "left_anti")
        return df

    def delete_keys_where(self, predicate, key: str) -> int:
        """MERGE-ON-READ delete: record the matching keys as an equality
        tombstone file instead of rewriting data (Iceberg v2 equality
        deletes; the complement to ``delete_where``'s copy-on-write).

        Cost is O(matching keys) — one small parquet write and a
        manifest commit; no data file is touched.  Readers anti-join the
        tombstones until ``compact()`` materializes them.  The trade:
        every read of every retained-and-later version pays the
        anti-join until compaction, and the tombstone is GLOBAL by key —
        a row appended later with a tombstoned key stays hidden until a
        compaction clears the tombstones (documented semantic, simpler
        than Iceberg's sequence-number scoping; re-inserting a deleted
        key means compacting first).
        """
        keys = self.read().where(predicate).select(key).distinct()
        with self._discard_on_failure() as staged:
            staged += self._stage_files(keys, "dkeys")
            new_entries = [{"file": f, "key": key} for f in staged]

            def compute_deletes(pm: dict) -> list:
                return pm.get("delete_files", []) + new_entries

            return self._commit(
                lambda prev: prev, "delete_keys", compute_deletes=compute_deletes
            )

    def delete_where(self, predicate) -> int:
        """Copy-on-write delete: rewrite ONLY the files that contain
        matching rows; untouched files carry over by reference.  Returns
        the new version.

        Isolation level is write-serializable, like Delta's default: the
        delete applies to the snapshot it READ.  A concurrent append
        that commits first carries over untouched (its rows are not
        re-filtered, even if they match); a concurrent compact/delete
        that replaced one of this delete's target files aborts the
        commit with CommitConflict rather than resurrecting rows."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        base = self.latest_version()
        df = self.read(base)
        hit_files = {
            r["f"]
            for r in df.filter(pred).select(_file_name().alias("f")).distinct().collect()
        }
        if not hit_files:
            return base
        survivors = df.filter(_file_name().isin(*hit_files)).filter(
            ~F.coalesce(pred, F.lit(False))
        )
        # The survivor count rides the staging write as an observed
        # metric; an all-deleted rewrite just removes the 0-row file it
        # staged.
        obs = Observation(f"delete-surv-{uuid.uuid4().hex[:8]}")
        with self._discard_on_failure() as new:
            new += self._stage_files(
                survivors.observe(obs, F.count(F.lit(1)).alias("n")), "delete"
            )
            if not obs.get["n"]:
                for f in new:
                    os.remove(os.path.join(self.data_dir, f))
                new.clear()

            def compute(prev: list[str]) -> list[str]:
                missing = hit_files - set(prev)
                if missing:
                    # a concurrent compact/delete replaced files under us —
                    # retrying blindly would resurrect deleted rows
                    raise CommitConflict(f"files vanished mid-delete: {sorted(missing)}")
                return [f for f in prev if f not in hit_files] + new

            return self._commit(compute, "delete")

    def _key_range(self, name: str, key: str, kind: type | None) -> tuple | None:
        """:func:`_footer_key_range` of data file ``name``, cached per
        file name: data files are immutable."""
        cache_key = (name, key, kind)
        if cache_key not in self._key_ranges:
            self._key_ranges[cache_key] = (
                _footer_key_range(os.path.join(self.data_dir, name), key, kind)
                if kind is not None
                else None
            )
        return self._key_ranges[cache_key]

    def _rewrite_hit_files(
        self, candidates: list[str], upd_files: list[str], key: str, schema, base_v: int
    ) -> tuple[set[str], list[str]]:
        """One Spark write over the ``candidates`` of a merge: every row
        is marked by whether the staged batch ``upd_files`` holds its key
        (an existence join — no row is duplicated, no ``distinct``; a
        NULL mark is "no"), unmarked rows are written partitioned by
        their source file, and the files holding a marked row come back
        on the same write as an observed ``collect_set``.  Returns
        ``(hit files, their survivors adopted into data/)``; the copies
        of candidates without a hit are discarded with the staging dir.
        A hit file whose rows all matched leaves no survivor file
        (partitioned writes emit no empty file)."""
        staged = self._read_projected(
            [os.path.join(self.data_dir, f) for f in upd_files], schema
        )
        marked = (
            self.read_files([os.path.join(self.data_dir, f) for f in candidates], base_v)
            # _metadata.file_path resolves only on the scan itself — pin
            # it as an ordinary column before the join
            .withColumn("__f", _file_name())
            .withColumn("__hit", F.coalesce(F.col(key).isin(staged.select(key)), F.lit(False)))
        )
        obs = Observation(f"merge-hits-{uuid.uuid4().hex[:8]}")
        survivors = (
            marked.observe(obs, F.collect_set(F.when(F.col("__hit"), F.col("__f"))).alias("hit"))
            .where(~F.col("__hit"))
            .drop("__hit")
        )
        with self._staging_dir() as staging:
            survivors.write.partitionBy("__f").parquet(staging)
            hit_files = set(obs.get["hit"])
            new = []
            for d in sorted(os.listdir(staging)):
                # a partition dir is ``__f=<escaped source file name>``
                if d.startswith("__f=") and unquote(d[4:]) in hit_files:
                    new += self._adopt(os.path.join(staging, d), "merge")
        return hit_files, new

    def merge(self, updates: DataFrame, key: str, txn: str | None = None) -> int:
        """MERGE INTO (upsert by key), one atomic commit: rows whose key
        appears in ``updates`` are REPLACED, new keys are INSERTED.

        Copy-on-write at file granularity, like delete_where: only files
        containing a matched key are rewritten (their unmatched rows
        survive verbatim); every other file carries over by reference;
        the update batch lands as new files.  Readers see the old or the
        new table, never a half-merged one — the replace and the insert
        publish in the SAME manifest.

        Cost scales with the files the batch's keys can hit + update
        size, not the base table: each data file's key ``(min, max)``
        comes from its parquet footer (driver-side, cached per immutable
        file), the batch's range from the footers of its staged files,
        and only base files whose range overlaps the batch's are
        candidates.  One Spark write over the candidates
        (:meth:`_rewrite_hit_files`; ``read_files`` keeps the tombstone
        anti-join and the manifest schema) both finds the hit files and
        rewrites their survivors, so a merge runs three jobs: stage the
        batch, broadcast its keys, rewrite.  The price: a candidate that
        holds none of the batch's keys is read in full and written once,
        then discarded.  A file whose footer gives no usable range is
        always a candidate; with no candidate the batch commits without
        a rewrite.  The first merge into an empty table records the
        batch schema, so later reads never infer one."""
        if txn is not None and txn in self.committed_txns():
            return self.latest_version()
        base_v = self.latest_version()
        base_files = self._manifest(base_v)["files"] if base_v >= 0 else []
        schema = self.table_schema(base_v)
        if schema is not None:
            # staged files carry the table's column order AND types, so
            # the schema-known re-read below fits them
            updates = updates.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        elif base_files:  # pre-schema-tracking table
            updates = updates.select(*self.read(base_v).columns)
        # Stage the update batch FIRST: the staged parquet is the pinned
        # copy the rewrite reads, so the update subplan (behind a
        # dropDuplicates shuffle on the streaming path) evaluates exactly
        # ONCE.
        with self._discard_on_failure() as staged_files:
            upd_files = self._stage_files(updates, "merge")
            staged_files += upd_files
            if not base_files:
                # empty base (a new table, the cursor-origin v0): nothing
                # can match — commit without a rewrite, recording the schema
                return self._commit(
                    lambda prev: prev + upd_files,
                    "merge",
                    txn=txn,
                    compute_schema=self._schema_after(updates.schema, False),
                )
            kind = _range_kind(updates.schema[key].dataType)
            span = _span([self._key_range(f, key, kind) for f in upd_files])
            candidates = [
                f for f in base_files if _may_match(self._key_range(f, key, kind), span)
            ]
            hit_files, new = set(), []
            if candidates:
                hit_files, new = self._rewrite_hit_files(
                    candidates, upd_files, key, schema, base_v
                )
                staged_files += new
            new += upd_files

            def compute(prev: list[str]) -> list[str]:
                missing = hit_files - set(prev)
                if missing:
                    raise CommitConflict(f"files vanished mid-merge: {sorted(missing)}")
                return [f for f in prev if f not in hit_files] + new

            return self._commit(compute, "merge", txn=txn)

    def compact(
        self,
        target_files: int = 1,
        sort_by: str | None = None,
        zorder_by: list[str] | None = None,
        bits_per_col: int = 16,
    ) -> int:
        """Rewrite the head snapshot into ``target_files`` files.

        ``sort_by``: range-cluster the rewrite on a column, so each
        output file owns a tight value range — this is CLUSTERING
        compaction, the step that keeps zone maps
        (operators/zonemap.py::IncrementalZoneMap) selective after many
        unordered appends have interleaved the key space.  Plain
        coalesce (default) just fixes the small-files problem.

        ``zorder_by``: 2-D+ clustering — range-cluster on the Morton
        (bit-interleaved) key of the listed columns (Delta/Iceberg
        OPTIMIZE ZORDER BY), so per-file min/max envelopes are tight on
        EVERY listed dimension at once and a box predicate skips files
        on all of them (operators/layout.py for the key; columns must be
        non-negative ints < 2^bits_per_col — callers clamp/scale).  One
        range shuffle, same cost shape as sort_by."""
        if sort_by is not None and zorder_by is not None:
            raise ValueError("pass sort_by or zorder_by, not both")
        base = self.latest_version()
        df = self.read(base)
        base_manifest = self._manifest(base)
        old = set(base_manifest["files"])
        observed_deletes = base_manifest.get("delete_files", [])
        if zorder_by is not None:
            from event_streaming_spark.operators.layout import zorder_key

            laid_out = (
                df.withColumn("__zkey", zorder_key(zorder_by, bits_per_col))
                .repartitionByRange(target_files, F.col("__zkey"))
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        elif sort_by is not None:
            laid_out = df.repartitionByRange(target_files, F.col(sort_by))
        else:
            laid_out = df.coalesce(target_files)
        with self._discard_on_failure() as new:
            new += self._stage_files(laid_out, "compact")

            def compute(prev: list[str]) -> list[str]:
                if set(prev) != old:
                    raise CommitConflict("table changed under compact; rerun")
                return new

            # The rewrite read through read() → the tombstones OBSERVED at
            # read time are MATERIALIZED in the new files; clear them from
            # the child manifest.  But a concurrent delete_keys_where
            # changes delete_files WITHOUT changing the file list, so the
            # file-set conflict check above is blind to it — accepting such
            # a parent would wipe tombstones the rewrite never saw and
            # resurrect their rows.  Conflict on any tombstone drift instead.
            def compute_deletes(pm: dict) -> list:
                if pm.get("delete_files", []) != observed_deletes:
                    raise CommitConflict("tombstones changed under compact; rerun")
                return []

            return self._commit(compute, "compact", compute_deletes=compute_deletes)

    def optimize_small_files(self, min_bytes: int, target_files: int = 1) -> int:
        """Incremental bin-packing OPTIMIZE: rewrite ONLY data files
        smaller than ``min_bytes`` into ``target_files`` packed files,
        leaving large files untouched (Delta ``OPTIMIZE``'s actual
        behavior — at 100 TB a full-table ``compact()`` is a
        non-starter; maintenance must be proportional to the SMALL-file
        debt, not the table).

        Composes with concurrent writers better than ``compact()``:
        * concurrent APPENDS don't conflict — the commit only requires
          that the files being replaced still exist in the parent (new
          files pass through untouched);
        * tombstones are INHERITED, not cleared: the rewrite reads its
          subset through ``read_files`` (which applies the anti-join and
          the manifest schema), so deletes are materialized in the
          packed files, and the surviving tombstones still guard the
          untouched files — re-applying them to the packed files is a
          semantic no-op.

        Returns the new version, or the current head when fewer than two
        files qualify (nothing to pack)."""
        base = self.latest_version()
        if base < 0:
            raise ValueError("empty table")
        manifest = self._manifest(base)
        small = []
        for f in manifest["files"]:
            try:
                sz = os.path.getsize(os.path.join(self.data_dir, f))
            except FileNotFoundError as e:
                # A concurrent vacuum/compact removed a file the manifest
                # we read still lists — the same situation the commit-time
                # check below handles, so surface it the same way instead
                # of leaking FileNotFoundError (ADVICE r4): the caller's
                # contract is "CommitConflict means rerun".
                raise CommitConflict(
                    f"manifest file vanished under optimize ({f}); rerun"
                ) from e
            if sz < min_bytes:
                small.append(f)
        if len(small) < 2:
            return base
        small_set = set(small)
        df = self.read_files([os.path.join(self.data_dir, f) for f in small], base)
        with self._discard_on_failure() as new:
            new += self._stage_files(df.coalesce(target_files), "optimize")

            def compute(prev: list[str]) -> list[str]:
                if not small_set <= set(prev):
                    raise CommitConflict("packed files changed under optimize; rerun")
                return [f for f in prev if f not in small_set] + new

            return self._commit(compute, "optimize")

    def rollback(self, to_version: int) -> int:
        """Restore an earlier snapshot as the NEW head (history preserved
        — this is a forward commit whose file list is the old one, the
        lakehouse RESTORE).  Fails if the target was vacuumed.

        The restored commit carries the TARGET's schema and equality
        tombstones, not the current head's: inheriting the head's (the
        pre-r6 bug) resurrected rows the target had tombstoned — or
        wrongly hid rows when the head had tombstones the target
        predated — and read the old files under the new schema."""
        target = self._manifest(to_version)
        files = target["files"]
        for f in files:
            if not os.path.exists(os.path.join(self.data_dir, f)):
                raise ValueError(f"version {to_version} no longer restorable: {f} vacuumed")
        for d in target.get("delete_files", []):
            if not os.path.exists(os.path.join(self.data_dir, d["file"])):
                raise ValueError(
                    f"version {to_version} no longer restorable: tombstone {d['file']} vacuumed"
                )
        return self._commit(
            lambda prev: list(files),
            f"rollback:{to_version}",
            compute_schema=lambda pm: target.get("schema"),
            compute_deletes=lambda pm: target.get("delete_files", []),
        )

    def table_changes(self, from_version: int, to_version: int):
        """Change feed between two snapshots: ``(row..., _change)`` with
        ``insert`` / ``delete`` rows (an update surfaces as both).

        File-level diff first — rows in carried-over files are identical
        BY CONSTRUCTION (files are immutable), so only the added/removed
        files are read and anti-joined.  At production scale this is why
        the feed is cheap: an append's feed reads ONLY the new files.
        """
        m_old, m_new = self._manifest(from_version), self._manifest(to_version)
        if m_old.get("delete_files", []) != m_new.get("delete_files", []):
            # Equality tombstones change row membership WITHOUT changing
            # the file list, so the cheap file-level diff is blind to
            # them — fall back to the logical diff through read() (which
            # applies tombstones on both sides).
            a, r = self.read(to_version), self.read(from_version)
            ins = a.exceptAll(r).withColumn("_change", F.lit("insert"))
            dels = r.exceptAll(a).withColumn("_change", F.lit("delete"))
            return ins.union(dels)
        old = set(m_old["files"])
        new = set(m_new["files"])
        added = [os.path.join(self.data_dir, f) for f in sorted(new - old)]
        removed = [os.path.join(self.data_dir, f) for f in sorted(old - new)]
        # Both sides are read with the target snapshot's schema, so a
        # file that predates a schema evolution gets the evolved columns
        # (NULL-filled).  Tombstones (identical on both sides here) still
        # gate row VISIBILITY: a tombstoned row inside an added/removed
        # file was never visible in either snapshot, so it must not
        # appear in the feed.
        schema = self.table_schema(to_version)
        feed = lambda files: self._apply_deletes(  # noqa: E731
            self._read_projected(files, schema), to_version
        )
        if added and removed:
            a, r = feed(added), feed(removed)
            ins = a.exceptAll(r).withColumn("_change", F.lit("insert"))
            dels = r.exceptAll(a).withColumn("_change", F.lit("delete"))
            return ins.union(dels)
        if added:
            return feed(added).withColumn("_change", F.lit("insert"))
        if removed:
            return feed(removed).withColumn("_change", F.lit("delete"))
        # no structural change: an EMPTY feed with the promised schema —
        # returning None crashed every caller that piped the feed into an
        # aggregate (IVM's apply_group_delta does changes.groupBy(...))
        if schema is not None:
            change = T.StructField("_change", T.StringType(), nullable=False)
            return local_frame(self.spark, [], T.StructType([*schema.fields, change]))
        return (
            self.read(to_version)
            .where(F.lit(False))
            .withColumn("_change", F.lit("insert"))
        )

    def sink(self, stream_df: DataFrame, checkpoint: str):
        """Streaming append: each micro-batch commits ONE new version
        (atomic, so readers see batch boundaries, never partial
        batches).  Idempotent under foreachBatch replay: the batch id is
        recorded INSIDE the committed manifest (``txn``), so the append
        and its dedup mark publish atomically — a crash between them is
        impossible by construction.  The checkpoint-local ledger is only
        a fast-path cache (and covers replays older than the manifest
        retention window)."""
        return ledgered_sink(
            stream_df,
            checkpoint,
            "vstore-ledger",
            lambda df, bid, scope: self.append(df, txn=f"{scope}#append#{bid}"),
        )

    def upsert_sink(
        self,
        stream_df: DataFrame,
        key: str,
        checkpoint: str,
        available_now: bool = True,
    ):
        """Streaming CDC apply: each micro-batch MERGEs by key — the
        versioned table continuously tracks the latest row per key,
        every batch an atomic, time-travelable version.  Replay-safe via
        the in-manifest ``txn`` record (ledger = fast-path cache, as in
        ``sink``).  Within one batch, the last row per key (by batch
        order) wins — dedupe upstream for a different policy."""
        return ledgered_sink(
            stream_df,
            checkpoint,
            "vstore-upsert-ledger",
            lambda df, bid, scope: self.merge(
                df.dropDuplicates([key]), key, txn=f"{scope}#merge#{bid}"
            ),
            available_now=available_now,
        )

    def vacuum(self, keep_last: int = 2, min_age_s: float = 3600.0) -> list[str]:
        """Drop manifests older than the last ``keep_last`` and delete
        data files no retained manifest references.  The ONLY deletion
        in the system; time travel works for every retained version.

        ``min_age_s``: unreferenced files younger than this survive —
        they may belong to a commit IN FLIGHT (staged data lands before
        its manifest), and deleting them would make that commit publish
        dangling references.  The same retention-grace rule as Delta's
        ``VACUUM ... RETAIN``; pass 0 only when no writer can be live.
        Stale ``_staging-*`` dirs (crashed writers) past the grace age
        are swept too."""
        import time

        head = self.latest_version()
        # Intersect the keep window with manifests that actually exist —
        # a prior vacuum with a smaller keep_last may already have
        # dropped part of the range, and reading a missing manifest
        # would fail the whole vacuum before it deleted anything.
        existing = {
            int(f[1:-5])
            for f in os.listdir(self.manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        }
        window = {v for v in range(max(0, head - keep_last + 1), head + 1)} & existing

        # Tagged snapshots are retention-exempt: a tag is a promise that
        # read(tag=...) keeps working, so its manifest AND files survive
        # any keep_last window until the tag is deleted.
        def _keep_and_refs() -> tuple[set[int], set[str]]:
            kp = window | (set(self.tags().values()) & existing)
            refs: set[str] = set()
            for v in kp:
                m = self._manifest(v)
                refs |= set(m["files"])
                refs |= {d["file"] for d in m.get("delete_files", [])}
            return kp, refs

        keep, referenced = _keep_and_refs()
        now = time.time()
        removed = []
        # TOCTOU guard (ADVICE r4): a tag created between the snapshot
        # above and the unlinks below must still protect its files.
        # Re-reading the refs dir immediately before each delete pass
        # shrinks the unprotected window from "the whole vacuum" to the
        # single listdir→unlink gap; a tag named DURING that sub-ms gap
        # must target a version inside the keep window (which vacuum never
        # touches) to be guaranteed safe — the documented residual race.
        k2, r2 = _keep_and_refs()
        keep |= k2
        referenced |= r2
        for f in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, f)
            if f not in referenced and now - os.path.getmtime(p) >= min_age_s:
                os.unlink(p)
                removed.append(f)
        keep |= _keep_and_refs()[0]
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                v = int(f[1:-5])
                # NEVER touch versions newer than the head this vacuum
                # read: a writer that committed DURING the vacuum is a
                # fully-published version, and unlinking its manifest
                # would silently destroy the commit (the min_age grace
                # protects its data files but manifests are instant).
                if v not in keep and v <= head:
                    os.unlink(os.path.join(self.manifest_dir, f))
            elif f.startswith(".tmp-") and now - os.path.getmtime(
                os.path.join(self.manifest_dir, f)
            ) >= min_age_s:
                # crashed commit attempts leak .tmp-* manifests; sweep
                # them past the same grace age as staging dirs
                os.unlink(os.path.join(self.manifest_dir, f))
        for f in os.listdir(self.path):
            p = os.path.join(self.path, f)
            if f.startswith("_staging-") and now - os.path.getmtime(p) >= min_age_s:
                shutil.rmtree(p)
        return removed
