"""Parquet-backed, snapshot-versioned quad store.

Plays the role of the reference's transactional ``DatasetGraph``
(FusekiProjector.java:484-490 begin/commit/abort; MVCC visibility so
readers see the last committed snapshot — SURVEY.md §3.1 step 7).  Delta
Lake is not available in this container, so we implement the same idea
directly: an append-mostly file log plus an atomically-swapped JSON
manifest.

Layout:
    <path>/files/bucket=N/<uuid>/   immutable data leaves, Hive-partitioned
                                    by a stable subject-hash bucket
    <path>/files/_staging-<uuid>/   a Spark write before its renames
    <path>/_manifest.json           {"version": N, "files": ["bucket=N/<uuid>", ...]}
    <path>/_manifest.json.tmp-*     write-then-os.replace for atomicity

Commit protocol (single writer per store, like the reference's one
projector per dataset — FKRegistry.java:45-99):
  1. write new parquet files for the net adds
  2. if there are deletes: rewrite only the files that contain matching
     quads (read, anti-join, write survivor file)
  3. atomically swap the manifest (fsync'd tmp file + os.replace + fsync
     of the store directory) — readers referencing the old manifest keep a
     consistent snapshot, and a power loss leaves the old or the new one

Two writers implement the protocol with identical results; the store
picks one from the payload's plan.  Commits of local rows only (HTTP
mutations, trickle-sized micro-batches) within ``DRIVER_COMMIT_ROWS`` run
on the driver in Arrow: bucket ids from Spark's ``xxhash64`` over the
collected payload, only the touched bucket leaves read with pyarrow,
null-safe Arrow anti-joins, one leaf per touched bucket.  Everything else
(bulk batches, payloads that read the store, a file or an RDD, touched
leaves above ``SMALL_COMMIT_ROWS``) runs as Spark jobs.

Idempotent re-apply (at-least-once safety, SURVEY.md §7.4): commits carry a
``txn_id``; re-committing an already-recorded txn_id is a no-op, which makes
"crash between store commit and checkpoint commit" safe — exactly the
ordering the reference gets from writing the offset file only after the
store commit (README.md:193-196, FusekiProjector.java:514-573).

Set semantics: adds are deduped against the current snapshot with a
left-anti join before writing (README.md:148-153 — duplicates must not
accumulate).

Scale notes (100 TB): data leaves are partitioned by a stable hash bucket
of subject and the manifest is bucket-granular, so the delete rewrite reads
and rewrites ONLY the buckets the delete keys hash to — unaffected leaves
carry over untouched.  On a real cluster you would add graph/predicate
partition columns + file-level min/max pruning.  Every read is one
parquet scan of manifest leaves, ``bucket`` a Hive partition column:
bucket filters, column pruning and predicate pushdown apply as usual.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..model import QUAD_COLS, QUAD_SCHEMA

_MANIFEST = "_manifest.json"
_LEAF_SCHEMA = StructType(QUAD_SCHEMA.fields + [StructField("bucket", IntegerType())])

# One write lock per store *path* (realpath-keyed, process-wide): the manifest
# swap is atomic but commit/compact are read-modify-write over it, so two
# concurrent writers — HTTP update handlers, the streaming foreachBatch, and
# periodic compaction all run in different threads — could both read version N
# and silently drop the loser's files.  Sharing the lock across every
# QuadStore instance on the same path restores the reference's single-writer
# transaction semantics (FusekiProjector.java:484-490) without forcing callers
# to coordinate.  Cross-*process* writers remain out of scope, as in the
# reference (one projector per dataset — FKRegistry.java:45-99).
_STORE_LOCKS: dict[str, threading.RLock] = {}
_STORE_LOCKS_GUARD = threading.Lock()


def _write_lock_for(path: str) -> threading.RLock:
    key = os.path.realpath(path)
    with _STORE_LOCKS_GUARD:
        return _STORE_LOCKS.setdefault(key, threading.RLock())


def _anti_join_quads(left: DataFrame, right: DataFrame, broadcast_right: bool = False) -> DataFrame:
    """left ANTI JOIN right on all quad columns, null-safe.

    object_datatype / object_lang are nullable; plain ``on=cols`` equality
    would never match NULL==NULL and silently break set-semantics dedup and
    deletes.  ``eqNullSafe`` (<=>) still hash-partitions both sides on the
    join keys, so this stays a shuffle(-or-broadcast) hash join.

    The right side's columns are renamed before the condition is built:
    same-name ``left[c] <=> right[c]`` pairs make Spark log ``WARN
    Column: Constructing trivially true equals predicate`` per column per
    plan build (the aliased frames join correctly, but u01-style update
    bursts spam hundreds of lines and bury real warnings — VERDICT r13
    item 3).
    """
    return left.join(
        _renamed_right(right, broadcast_right), _quad_eq_cond(left), "left_anti"
    )


def _semi_join_quads(left: DataFrame, right: DataFrame, broadcast_right: bool = False) -> DataFrame:
    """left SEMI JOIN right on all quad columns, null-safe (rows of left
    that exist in right)."""
    return left.join(
        _renamed_right(right, broadcast_right), _quad_eq_cond(left), "left_semi"
    )


def _renamed_right(right: DataFrame, broadcast_right: bool) -> DataFrame:
    r = right.select([F.col(c).alias(f"__r_{c}") for c in QUAD_COLS])
    return F.broadcast(r) if broadcast_right else r


def _quad_eq_cond(left: DataFrame):
    return reduce(
        lambda a, b: a & b,
        [left[c].eqNullSafe(F.col(f"__r_{c}")) for c in QUAD_COLS],
    )


# Arrow twin of QUAD_SCHEMA for leaves read and written on the driver
_ARROW_SCHEMA = pa.schema([pa.field(c, pa.string()) for c in QUAD_COLS])


def local_quads(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Quad tuples as a LocalRelation-backed DataFrame.

    The rows travel to the JVM as one Arrow table and stay in the plan, so
    projecting and collecting them (the driver commit path) launches no
    Spark job — unlike ``createDataFrame(list)``, which builds a Python
    RDD whose every collect is a job."""
    columns = list(zip(*rows)) if rows else [()] * len(QUAD_COLS)
    table = pa.table([pa.array(c, pa.string()) for c in columns], schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, QUAD_SCHEMA)


def _local_row_bound(df: DataFrame) -> int | None:
    """Catalyst's ``maxRows`` of ``df``'s analyzed plan when every leaf is
    a LocalRelation (as :func:`local_quads` builds), else None — so a side
    that reads the store, a file or an RDD is never collected.  The bound
    is a sum over a union, the left side of an anti-join, a product over a
    join and unknown past a generator.  Planning only, no job."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().nodeName() != "LocalRelation":
            return None
    bound = plan.maxRows()
    return bound.get() if bound.isDefined() else None


def _collect_bucketed(df: DataFrame | None, bucket_col, dedup: bool) -> pa.Table | None:
    """Collect a bounded quad frame plus its ``bucket`` column as Arrow."""
    if df is None:
        return None
    rows = [tuple(r) for r in df.select(*QUAD_COLS, bucket_col.alias("bucket")).collect()]
    if dedup:
        rows = list(dict.fromkeys(rows))
    if not rows:
        return None
    columns = list(zip(*rows))
    return pa.table(
        [pa.array(c, pa.string()) for c in columns[:-1]] + [pa.array(columns[-1], pa.int32())],
        names=QUAD_COLS + ["bucket"],
    )


def _in_bucket(t: pa.Table | None, b: int) -> pa.Table | None:
    """The QUAD_COLS rows of ``t`` in bucket ``b``; None when there are none."""
    if t is None:
        return None
    sel = t.filter(pc.equal(t.column("bucket"), b)).select(QUAD_COLS)
    return sel if sel.num_rows else None


def _null_safe_keys(t: pa.Table) -> pa.Table:
    """Join keys for NULL-safe equality: every quad column with NULL filled,
    plus an is-null flag per column (Arrow joins never match NULL keys,
    Spark's ``<=>`` does — NULL and "" must stay distinct)."""
    cols, names = [], []
    for c in QUAD_COLS:
        col = t.column(c)
        cols += [pc.fill_null(col, ""), pc.is_null(col)]
        names += [c, f"{c}__null"]
    return pa.table(cols, names=names)


def _anti_join_arrow(left: pa.Table, right: pa.Table) -> pa.Table:
    """Rows of ``left`` absent from ``right`` (QUAD_COLS, NULL-safe), in
    ``left``'s order."""
    if not left.num_rows or not right.num_rows:
        return left
    keys = _null_safe_keys(left)
    keys = keys.append_column("__row", pa.array(range(left.num_rows), pa.int64()))
    kept = keys.join(_null_safe_keys(right), keys=keys.column_names[:-1], join_type="left anti")
    rows = kept.column("__row")
    return left.take(pc.take(rows, pc.sort_indices(rows)))


class QuadStore:
    def __init__(self, path: str, n_buckets: int = 16, grace_versions: int = 2):
        self.path = path
        self.files_dir = os.path.join(path, "files")
        self.n_buckets = n_buckets
        # MVCC read grace: files dropped by a commit/compaction stay on disk
        # until `grace_versions` further versions have committed, so a reader
        # that captured an earlier manifest snapshot can finish its scan
        # without FileNotFound (Delta/Iceberg vacuum-retention, in miniature)
        self.grace_versions = grace_versions
        self._write_lock = _write_lock_for(path)
        os.makedirs(self.files_dir, exist_ok=True)
        # initialize-once under the lock: a second instance racing an
        # in-flight commit must not clobber the committed manifest
        with self._write_lock:
            if not os.path.exists(self._manifest_path()):
                self._write_manifest({"version": 0, "files": [], "txns": []})

    # -- bucket layout ------------------------------------------------------
    # manifest entries are leaf directories "bucket=N/<uuid>": data is
    # physically partitioned by a stable subject-hash bucket, so deletes
    # (and snapshot dedup) read ONLY the buckets their keys hash to —
    # O(affected buckets), not O(store)
    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("subject")), F.lit(self.n_buckets))

    @staticmethod
    def _bucket_of(entry: str) -> int:
        return int(entry.split("/", 1)[0][len("bucket="):])

    # commits at or below this row count skip the bucket shuffle: a single
    # task writes every bucket leaf.  Request-sized HTTP mutations and
    # small micro-batches stay shuffle-free; ingest-volume batches (the
    # soak writes ~2.5M quads per batch) keep the n_buckets repartition so
    # write parallelism and file sizing hold at scale.
    SMALL_COMMIT_ROWS = 200_000

    # commits whose every side reads only local rows, at most THIS many
    # per side, and whose touched bucket leaves hold at most
    # SMALL_COMMIT_ROWS rows, run on the DRIVER in Arrow (_driver_commit):
    # the payload is collected (LocalRelation-backed payloads collect
    # without a job), only the touched leaves are read, and the bucket
    # rewrite is written with pyarrow — zero Spark jobs per commit.
    # Request-sized HTTP mutations and trickle-sized ingest micro-batches
    # take it at any store size; bulk batches and payloads that read the
    # store keep the distributed writer.
    DRIVER_COMMIT_ROWS = 20_000

    def _write_partitioned(self, df: DataFrame, small: bool = False) -> list[str]:
        """Write df bucket-partitioned into a staging dir, rename each
        non-empty ``bucket=N`` dir to ``files/bucket=N/<uuid>`` and return
        those manifest entries (a crash in between leaves work for vacuum)."""
        name = uuid.uuid4().hex
        staging = os.path.join(self.files_dir, f"_staging-{name}")
        df = df.withColumn("bucket", self._bucket_col())
        df = df.coalesce(1) if small else df.repartition(self.n_buckets, F.col("bucket"))
        df.write.partitionBy("bucket").mode("overwrite").parquet(staging)
        entries = sorted(f"{d}/{name}" for d in os.listdir(staging) if d.startswith("bucket="))
        for e in entries:
            os.makedirs(os.path.join(self.files_dir, os.path.dirname(e)), exist_ok=True)
            os.rename(os.path.join(staging, os.path.dirname(e)), os.path.join(self.files_dir, e))
        shutil.rmtree(staging)
        return entries

    def _entry_row_count(self, entry: str) -> int:
        """Row count of a manifest leaf from parquet footer metadata — no
        Spark job, just footer reads (used to size delete rewrites)."""
        leaf = os.path.join(self.files_dir, entry)
        total = 0
        for f in os.listdir(leaf):
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(leaf, f)).num_rows
        return total

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _read_manifest(self) -> dict:
        with open(self._manifest_path()) as f:
            manifest = json.load(f)
        manifest.setdefault("tombstones", [])  # pre-grace manifests
        bad = [f for f in manifest["files"] if not f.startswith("bucket=")]
        if bad:  # an older layout: refuse it rather than read it differently
            raise ValueError(f"{self._manifest_path()}: entries not in bucket=N/<uuid>: {bad}")
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        # unique tmp name: concurrent writers (or a crashed leftover) must
        # never share the staging file, or one os.replace strands the other
        tmp = self._manifest_path() + ".tmp-" + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            # durable before it becomes visible: without this a power loss
            # after the rename can leave an empty manifest
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # atomic on POSIX
        # ... and the rename itself durable
        dir_fd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)

    @property
    def version(self) -> int:
        return self._read_manifest()["version"]

    def seen_txn(self, txn_id: str) -> bool:
        return txn_id in self._read_manifest()["txns"]

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession, with_bucket: bool = False) -> DataFrame:
        """Current committed snapshot as a DataFrame (MVCC: uses the file
        list frozen at manifest-read time).

        The snapshot is one parquet scan of the manifest's leaves whose
        subject-hash ``bucket`` column comes from the ``bucket=N`` dirs.
        A downstream filter ``bucket = <const>`` becomes one of the scan's
        partition filters, so point lookups (constant-subject SPARQL
        patterns, DESCRIBE) read 1/n_buckets of the store's files.
        ``with_bucket=False`` projects the column away."""
        return self._scan(spark, self._read_manifest()["files"], with_bucket)

    def _scan(self, spark: SparkSession, entries: list[str], with_bucket: bool = False) -> DataFrame:
        """Some manifest leaves as one parquet scan.  ``basePath`` makes
        Spark's partition discovery read ``bucket`` off the leaf paths."""
        paths = [os.path.join(self.files_dir, e) for e in entries]
        df = (
            spark.read.schema(_LEAF_SCHEMA).option("basePath", self.files_dir).parquet(*paths)
            if paths
            else spark.createDataFrame([], _LEAF_SCHEMA)
        )
        return df if with_bucket else df.drop("bucket")

    def count(self, spark: SparkSession) -> int:
        return self.read(spark).count()

    # -- write ------------------------------------------------------------
    def commit(
        self,
        spark: SparkSession,
        adds: DataFrame | None = None,
        deletes: DataFrame | None = None,
        txn_id: str | None = None,
        assume_unique: bool = False,
        broadcast_deletes: bool = True,
        broadcast_adds: bool = True,
    ) -> int:
        """Atomically apply net adds and deletes; returns new version.

        ``adds``/``deletes`` are DataFrames with QUAD_COLS columns.  The
        caller is responsible for net-effect ordering (ingest.projector
        computes last-op-wins before calling commit).  ``assume_unique``
        skips the within-batch dropDuplicates shuffle when the caller
        already reduced to unique quads (the projector's net-effect
        aggregate guarantees it).  ``broadcast_deletes``/``broadcast_adds``
        control the join strategy for the rewrite-on-delete anti-join and
        the set-semantics dedup: True (the default) is right for
        request/batch-sized inputs; callers whose delete or add set may be
        store-sized (CLEAR ALL, unconstrained DELETE WHERE, whole-graph
        COPY) must pass False so the join shuffles instead of broadcasting
        a store-sized side into every executor (and the driver).

        The store picks the writer itself.  When every present side reads
        only local rows (a :func:`local_quads` payload, possibly combined
        with others by unions and anti-joins) and its plan bounds it to at
        most ``DRIVER_COMMIT_ROWS`` rows, and the touched bucket leaves hold
        at most ``SMALL_COMMIT_ROWS`` rows, the commit runs on the driver
        in Arrow (``_driver_commit``); otherwise as Spark jobs.

        Thread-safe: holds the per-store write lock for the whole
        read-manifest -> write-files -> swap-manifest sequence, so HTTP
        handlers, the ingest stream, and compaction serialize instead of
        losing each other's commits.
        """
        with self._write_lock:
            return self._commit_locked(
                spark, adds, deletes, txn_id, assume_unique,
                broadcast_deletes, broadcast_adds,
            )

    def _commit_locked(
        self,
        spark: SparkSession,
        adds: DataFrame | None,
        deletes: DataFrame | None,
        txn_id: str | None,
        assume_unique: bool,
        broadcast_deletes: bool = True,
        broadcast_adds: bool = True,
    ) -> int:
        manifest = self._read_manifest()
        if txn_id is not None and txn_id in manifest["txns"]:
            return manifest["version"]  # idempotent re-apply

        current_files = list(manifest["files"])
        new_files: list[str] = []
        drop_files: list[str] = []

        # driver path only when EVERY present side is local and bounded: a
        # side that reads the store may be store-sized and must not be
        # collected
        bounds = [_local_row_bound(df) for df in (adds, deletes) if df is not None]
        if all(b is not None and b <= self.DRIVER_COMMIT_ROWS for b in bounds):
            version = self._driver_commit(
                manifest, adds, deletes, txn_id, assume_unique
            )
            if version is not None:
                return version
            # fall through to the Spark path when the touched leaves are
            # too big

        del_buckets: set[int] = set()
        if deletes is not None:
            # no dropDuplicates: the anti-join is duplicate-insensitive, so
            # deduping the delete side is pure wasted shuffle.  One
            # aggregation answers both "any deletes?" and "which buckets?"
            deletes = deletes.select(*QUAD_COLS)
            del_buckets = {
                r["b"]
                for r in deletes.groupBy(self._bucket_col().alias("b")).count().collect()
            }

        if del_buckets and current_files:
            # Rewrite-on-delete, restricted to the buckets the delete keys
            # hash to: unaffected bucket leaves are carried over untouched.
            affected = [f for f in current_files if self._bucket_of(f) in del_buckets]
            untouched = [f for f in current_files if f not in affected]
            if affected:
                current = self._scan(spark, affected)
                survivors = _anti_join_quads(
                    current, deletes, broadcast_right=broadcast_deletes
                )
                # survivors <= the affected leaves' rows, known from
                # parquet footers — small rewrites skip the bucket shuffle
                affected_rows = sum(self._entry_row_count(f) for f in affected)
                survivor_entries = self._write_partitioned(
                    survivors, small=affected_rows <= self.SMALL_COMMIT_ROWS
                )
                drop_files = affected
                current_files = untouched + survivor_entries

        n_adds = 0
        if adds is not None:
            adds = adds.select(*QUAD_COLS)
            if not assume_unique:
                adds = adds.dropDuplicates(QUAD_COLS)
            # one aggregation answers "which buckets?" (snapshot dedup only
            # needs those) AND "how many rows?" (sizes the write)
            add_stats = adds.groupBy(self._bucket_col().alias("b")).count().collect()
            add_buckets = {r["b"] for r in add_stats}
            n_adds = sum(r["count"] for r in add_stats)
            scan_files = [f for f in current_files if self._bucket_of(f) in add_buckets]
            if scan_files:
                current = self._scan(spark, scan_files)
                # set semantics: only insert quads not already present.
                # The store side is the big one — find the duplicates by
                # broadcasting the (micro-batch-sized) adds and scanning the
                # store WITHOUT a shuffle, then anti-join adds against that
                # small duplicate set.  The store is read, never shuffled;
                # at bucketed layout this becomes a bucket-pruned scan.
                dups = _semi_join_quads(current, adds, broadcast_right=broadcast_adds)
                adds = _anti_join_quads(adds, dups, broadcast_right=broadcast_adds)
            new_files.extend(
                self._write_partitioned(adds, small=n_adds <= self.SMALL_COMMIT_ROWS)
            )

        manifest["version"] += 1
        manifest["files"] = current_files + new_files
        if txn_id is not None:
            manifest["txns"] = (manifest["txns"] + [txn_id])[-1000:]
        self._retire(manifest, drop_files)
        self._write_manifest(manifest)
        return manifest["version"]

    # -- driver-side (Arrow) commit path ----------------------------------
    def _driver_commit(
        self,
        manifest: dict,
        adds: DataFrame | None,
        deletes: DataFrame | None,
        txn_id: str | None,
        assume_unique: bool,
    ) -> int | None:
        """Apply a bounded commit on the driver, bucket by bucket, in Arrow.

        The payload is collected with its bucket id computed by Spark's own
        ``xxhash64`` expression (a LocalRelation-backed payload — see
        :func:`local_quads` — collects without launching a job).  Only the
        leaves of the touched buckets are read, with ``pyarrow.parquet``.
        Per touched bucket: the delete rewrite and the set-semantics dedup
        are null-safe Arrow anti-joins (deletes first, then adds deduped
        against the survivors, as on the Spark path), and the bucket's new
        rows — survivors if anything was deleted, plus fresh adds — go to
        one ``files/bucket=N/<uuid>`` leaf, as the Spark writer lays out.
        Untouched buckets carry over as they are.

        Returns the new version, or None to fall back to the Spark path
        when the touched leaves hold more than ``SMALL_COMMIT_ROWS`` rows."""
        files = manifest["files"]
        add_t = _collect_bucketed(adds, self._bucket_col(), dedup=not assume_unique)
        del_t = _collect_bucketed(deletes, self._bucket_col(), dedup=False)
        touched = sorted(
            {b for t in (add_t, del_t) if t is not None for b in t.column("bucket").to_pylist()}
        )
        leaves = {b: [f for f in files if self._bucket_of(f) == b] for b in touched}
        try:
            touched_rows = sum(self._entry_row_count(f) for fs in leaves.values() for f in fs)
        except OSError:
            return None
        if touched_rows > self.SMALL_COMMIT_ROWS:
            return None

        name = uuid.uuid4().hex
        new_files: list[str] = []
        drop_files: list[str] = []
        for b in touched:
            current = self._read_leaves(leaves[b])
            kept = current
            dels = _in_bucket(del_t, b)
            if dels is not None and current.num_rows:
                kept = _anti_join_arrow(current, dels)
            out = _in_bucket(add_t, b)
            if out is not None:
                out = _anti_join_arrow(out, kept)
            if kept.num_rows < current.num_rows:
                # something was deleted: the bucket's survivors replace its leaves
                drop_files.extend(leaves[b])
                out = kept if out is None else pa.concat_tables([kept, out])
            if out is not None and out.num_rows:
                entry = f"bucket={b}/{name}"
                os.makedirs(os.path.join(self.files_dir, entry))
                pq.write_table(out, os.path.join(self.files_dir, entry, "part-00000.parquet"))
                new_files.append(entry)

        dropped = set(drop_files)
        manifest["version"] += 1
        manifest["files"] = [f for f in files if f not in dropped] + new_files
        if txn_id is not None:
            manifest["txns"] = (manifest["txns"] + [txn_id])[-1000:]
        self._retire(manifest, drop_files)
        self._write_manifest(manifest)
        return manifest["version"]

    def _read_leaves(self, entries: list[str]) -> pa.Table:
        """The rows of some bucket leaves as one Arrow table (QUAD_COLS)."""
        tables = [
            pq.read_table(os.path.join(self.files_dir, e, f), columns=QUAD_COLS).cast(_ARROW_SCHEMA)
            for e in entries
            for f in sorted(os.listdir(os.path.join(self.files_dir, e)))
            if f.endswith(".parquet")
        ]
        return pa.concat_tables(tables) if tables else _ARROW_SCHEMA.empty_table()

    # -- maintenance ------------------------------------------------------
    def compact(self, spark: SparkSession, min_files_per_bucket: int = 2) -> int:
        """Merge small bucket leaves (the small-files problem).

        Every micro-batch commit appends one leaf per touched bucket, so a
        long-running connector accumulates O(commits) files and scan/task
        overhead grows unboundedly — the classic streaming-ingest failure
        mode at scale.  Compaction reads each bucket whose leaf count is
        >= ``min_files_per_bucket``, rewrites it as a single leaf, and
        atomically swaps the manifest — the same MVCC swap as a commit, so
        concurrent readers keep their snapshot and the single writer can
        run this between batches (the reference's TDB2 has the analogous
        offline ``compact`` operation).
        Returns the new version, or the current one if nothing to do.
        """
        with self._write_lock:
            return self._compact_locked(spark, min_files_per_bucket)

    def _compact_locked(self, spark: SparkSession, min_files_per_bucket: int) -> int:
        manifest = self._read_manifest()
        by_bucket: dict[int, list[str]] = {}
        for f in manifest["files"]:
            by_bucket.setdefault(self._bucket_of(f), []).append(f)
        merge = [f for fs in by_bucket.values() if len(fs) >= min_files_per_bucket for f in fs]
        if len(merge) <= 1:
            return manifest["version"]
        merged = self._scan(spark, merge)
        new_entries = self._write_partitioned(merged)
        untouched = [f for f in manifest["files"] if f not in set(merge)]
        manifest["version"] += 1
        manifest["files"] = untouched + new_entries
        self._retire(manifest, merge)
        self._write_manifest(manifest)
        return manifest["version"]

    def _retire(self, manifest: dict, drop_files: list[str]) -> None:
        """Tombstone newly dropped leaves at the (already incremented)
        manifest version and physically delete only tombstones older than
        ``grace_versions`` — readers of recent snapshots keep their files.
        Runs before the manifest swap; a crash in between just leaves
        tombstones pointing at already-deleted paths, which re-delete as
        no-ops next time."""
        version = manifest["version"]
        tombstones = manifest["tombstones"] + [[f, version] for f in drop_files]
        keep: list[list] = []
        for f, dropped_at in tombstones:
            if version - dropped_at >= self.grace_versions:
                self._delete_leaf(f)
            else:
                keep.append([f, dropped_at])
        manifest["tombstones"] = keep

    def vacuum(self) -> int:
        """Delete every tombstoned leaf regardless of age (admin op, like
        Delta VACUUM with retention 0), and every leaf the manifest does not
        reference: the orphans of a commit that died after writing its
        leaves but before its manifest swap.  Staging dirs of a Spark write
        that died before its renames go too.  Returns the number of leaf
        and staging dirs removed."""
        with self._write_lock:
            manifest = self._read_manifest()
            manifest["tombstones"] = []
            self._write_manifest(manifest)
            # with no tombstone left, every unlisted leaf and every staging
            # dir is dead; a crash mid-way leaves only more for next time
            live = set(manifest["files"])
            dead = []
            for d in os.listdir(self.files_dir):
                if d.startswith("bucket="):
                    leaves = (f"{d}/{u}" for u in os.listdir(os.path.join(self.files_dir, d)))
                    dead += [f for f in leaves if f not in live]
                else:  # a staging dir
                    dead.append(d)
            for f in dead:
                self._delete_leaf(f)
            return len(dead)

    def _delete_leaf(self, f: str) -> None:
        shutil.rmtree(os.path.join(self.files_dir, f), ignore_errors=True)
