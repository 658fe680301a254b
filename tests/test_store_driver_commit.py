"""Driver-side (Arrow) commit path: correctness pins.

The path writes bucket leaves without a Spark job, so two things must
hold or the store silently corrupts at the BUCKET level:

1. rows must land in the bucket Spark's ``xxhash64`` assigns them (the
   driver path takes bucket ids from that very expression, so both
   writers agree by construction — the interop test pins it end to end),
2. a commit sequence applied through the driver path must produce the
   same snapshot as the same sequence through the distributed writer,
   including set-semantics dedup, delete rewrites, NULL vs "" columns,
   and cross-writer interop (Spark-written rows deleted by the driver path
   and vice versa).
"""

from __future__ import annotations

import datetime
import itertools
import json
import os
import re
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA, apply_event_batch
from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.sparql.update import UpdateEngine
from jena_fuseki_kafka_spark.store import QuadStore, local_quads


@pytest.fixture
def driver_commits(monkeypatch):
    """Paths of the stores whose commits the Arrow path applied, one entry
    per commit (a declined ``_driver_commit`` adds nothing)."""
    done = []
    orig = QuadStore._driver_commit

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        if out is not None:
            done.append(self.path)
        return out

    monkeypatch.setattr(QuadStore, "_driver_commit", spy)
    return done


def _quads(prefix: str, n: int, graph: str = "", dt=None, lang=None):
    return [
        (graph, f"http://e/{prefix}{i}", "http://e/p", "literal", f"v{i}", dt, lang)
        for i in range(n)
    ]


def _snapshot(spark, store):
    """The store's rows as a multiset (None-safe, duplicate-sensitive)."""
    return Counter(tuple(r) for r in store.read(spark).collect())


@pytest.mark.parametrize("force_spark", [False, True])
def test_commit_sequence_snapshot_parity(spark, tmp_path, force_spark, driver_commits):
    """The same commit sequence through the driver path (default) and
    through the distributed writer (DRIVER_COMMIT_ROWS forced to -1)
    must produce identical snapshots at every step."""
    store = QuadStore(str(tmp_path / f"s{force_spark}"), n_buckets=4)
    if force_spark:
        store.DRIVER_COMMIT_ROWS = -1  # instance override: never driver-commit

    def df(rows):
        return local_quads(spark, rows)

    base = _quads("a", 50) + _quads("n", 3, dt="http://www.w3.org/2001/XMLSchema#string")
    v1 = store.commit(spark, adds=df(base), txn_id="t1", assume_unique=True)
    assert v1 == 1
    # set-semantics: re-adding overlapping rows inserts only the new ones
    overlap = base[:10] + _quads("b", 5)
    store.commit(spark, adds=df(overlap), txn_id="t2", assume_unique=True)
    # delete a slice (some rows present, some not)
    dels = base[5:15] + _quads("ghost", 3)
    store.commit(spark, deletes=df(dels), txn_id="t3")
    # mixed add+delete in one commit
    store.commit(
        spark,
        adds=df(_quads("c", 4)),
        deletes=df(base[20:25]),
        txn_id="t4",
        assume_unique=True,
    )
    # idempotent replay of an applied txn is a no-op
    v = store.version
    assert store.commit(spark, adds=df(_quads("dup", 9)), txn_id="t4") == v
    # Arrow against Spark, not Spark against Spark
    assert driver_commits == ([] if force_spark else [store.path] * 4)

    expect = Counter(
        set(map(tuple, base)) - set(map(tuple, base[5:15])) - set(map(tuple, base[20:25]))
        | set(map(tuple, _quads("b", 5)))
        | set(map(tuple, _quads("c", 4)))
    )
    assert _snapshot(spark, store) == expect


def test_cross_writer_interop(spark, tmp_path, driver_commits):
    """Rows written by the distributed writer must be deletable through
    the driver path and vice versa — i.e. both writers agree on bucket
    placement."""
    store = QuadStore(str(tmp_path / "x"), n_buckets=4)

    def df(rows):
        return local_quads(spark, rows)

    spark_rows = _quads("sw", 30)
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, adds=df(spark_rows), txn_id="w1", assume_unique=True)
    store.DRIVER_COMMIT_ROWS = QuadStore.DRIVER_COMMIT_ROWS
    driver_rows = _quads("dw", 30)
    store.commit(spark, adds=df(driver_rows), txn_id="w2", assume_unique=True)

    # driver path deletes Spark-written rows
    store.commit(spark, deletes=df(spark_rows[:10]), txn_id="w3")
    # Spark path deletes driver-written rows
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, deletes=df(driver_rows[:10]), txn_id="w4")
    assert driver_commits == [store.path] * 2  # w2 and w3

    expect = Counter(set(map(tuple, spark_rows[10:])) | set(map(tuple, driver_rows[10:])))
    assert _snapshot(spark, store) == expect


def test_driver_path_actually_engages(spark, tmp_path, driver_commits):
    """A request-sized local commit must take the driver path (no write
    job): pin it so a future regression doesn't silently re-route every
    HTTP mutation through three Spark jobs."""
    store = QuadStore(str(tmp_path / "e"), n_buckets=2)
    store.commit(spark, adds=local_quads(spark, _quads("p", 20)),
                 txn_id="e1", assume_unique=True)
    assert driver_commits == [store.path], "driver commit did not engage (or fell back)"
    assert store.version == 1


# -- Arrow vs Spark equivalence, property-based ----------------------------

# a small pool so sequences collide: re-adds, deletes of present rows, adds
# and deletes in one bucket.  NULL vs "" in the nullable columns, unicode
# and empty subjects — the cases a non-null-safe join or a mis-indexed
# take would get wrong.
_SUBJECTS = ["", "s", "http://e/a", "ü", "中文", "emoji-\U0001F600"]
_POOL = [
    (g, s, "http://e/p", kind, v, dt, lang)
    for g, s, (kind, v, dt, lang) in itertools.product(
        ["", "http://g/1"],
        _SUBJECTS,
        [
            ("literal", "x", None, None),
            ("literal", "x", "", None),
            ("literal", "x", None, ""),
            ("literal", "x", "", ""),
            ("literal", "", None, "en"),
            ("iri", "http://e/o", None, None),
        ],
    )
]
_rows = st.lists(st.sampled_from(_POOL), max_size=8)
_commit = st.tuples(_rows, _rows, st.booleans())  # adds, deletes, assume_unique


def _apply(spark, store, seq, tag):
    """Commit ``seq`` to ``store``; returns the number of commits made."""
    applied = 0
    for i, (adds, dels, unique) in enumerate(seq):
        adds = list(dict.fromkeys(adds)) if unique else adds
        if not adds and not dels:
            continue
        store.commit(
            spark,
            adds=local_quads(spark, adds) if adds else None,
            deletes=local_quads(spark, dels) if dels else None,
            txn_id=f"{tag}-{i}",
            assume_unique=unique,
        )
        applied += 1
    return applied


def test_arrow_and_spark_commit_agree(spark, tmp_path, driver_commits):
    counter = itertools.count()

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
    @given(seq=st.lists(_commit, min_size=1, max_size=3))
    def check(seq):
        n = next(counter)
        arrow = QuadStore(str(tmp_path / f"a{n}"), n_buckets=2)
        spark_store = QuadStore(str(tmp_path / f"s{n}"), n_buckets=2)
        spark_store.DRIVER_COMMIT_ROWS = -1
        n_commits = _apply(spark, arrow, seq, "t")
        _apply(spark, spark_store, seq, "t")
        assert driver_commits.count(arrow.path) == n_commits
        assert spark_store.path not in driver_commits
        model: set = set()
        for adds, dels, _unique in seq:
            model = (model - set(dels)) | set(adds)
        assert _snapshot(spark, arrow) == _snapshot(spark, spark_store) == Counter(model)

    check()


def test_arrow_commit_edge_sequence(spark, tmp_path, driver_commits):
    """The cases the property test must cover, spelled out: NULL vs "" in
    both nullable columns, empty and unicode subjects, an add and a delete
    in one bucket in one commit, and re-adding a just-deleted quad."""
    null_dt = ("", "", "p", "literal", "x", None, None)
    empty_dt = ("", "", "p", "literal", "x", "", None)
    empty_lang = ("", "", "p", "literal", "x", None, "")
    uni = ("", "中文", "p", "literal", "y", None, "zh")
    seq = [
        ([null_dt, empty_dt, empty_lang, uni], [], True),
        # delete only the NULL-datatype row; "" twins must survive
        ([], [null_dt], True),
        # same subject -> same bucket: add one twin back, delete the other
        ([null_dt], [empty_dt], True),
        # re-add the just-deleted quad, plus a duplicate within the batch
        ([empty_dt, empty_dt], [], False),
    ]
    arrow = QuadStore(str(tmp_path / "a"), n_buckets=2)
    spark_store = QuadStore(str(tmp_path / "s"), n_buckets=2)
    spark_store.DRIVER_COMMIT_ROWS = -1
    assert _apply(spark, arrow, seq, "t") == 4
    _apply(spark, spark_store, seq, "t")
    assert driver_commits == [arrow.path] * 4
    expect = Counter([null_dt, empty_dt, empty_lang, uni])
    assert _snapshot(spark, arrow) == _snapshot(spark, spark_store) == expect


# -- the fast path at store sizes above SMALL_COMMIT_ROWS -------------------

_GROUPS = itertools.count()


def _spark_jobs(spark, fn):
    """Run fn() under a fresh job group; return (result, Spark jobs run)."""
    sc = spark.sparkContext
    group = f"probe-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _commit_routes(spark, monkeypatch, driver_commits):
    """Wrap QuadStore.commit; the returned list gets one (path taken,
    Spark jobs run inside commit) entry per commit."""
    routes = []
    orig = QuadStore.commit

    def routed(self, *a, **k):
        n = len(driver_commits)
        out, jobs = _spark_jobs(spark, lambda: orig(self, *a, **k))
        routes.append(("driver" if len(driver_commits) > n else "spark", jobs))
        return out

    monkeypatch.setattr(QuadStore, "commit", routed)
    return routes


def test_fast_path_engages_when_only_touched_leaves_fit(spark, tmp_path, monkeypatch,
                                                        driver_commits):
    """A store bigger than SMALL_COMMIT_ROWS still commits on the driver
    when the touched bucket leaves fit: a 1-event micro-batch and an HTTP
    RDF Patch (local payloads) both take the Arrow path, and
    QuadStore.commit launches no Spark job."""
    store = QuadStore(str(tmp_path / "f"), n_buckets=4)
    base = _quads("b", 80)
    store.commit(spark, adds=spark.createDataFrame(base, QUAD_SCHEMA), txn_id="pre")
    monkeypatch.setattr(QuadStore, "SMALL_COMMIT_ROWS", 40)  # store: 80 rows, ~20 per bucket
    routes = _commit_routes(spark, monkeypatch, driver_commits)

    ts = datetime.datetime(2026, 1, 1)
    event = (b"k", b'<http://e/new> <http://e/p> "v" .', [], "t", 0, 0, ts)
    res = apply_event_batch(spark, store, spark.createDataFrame([event], EVENT_SCHEMA),
                            txn_id="one-event")
    assert res["n_adds"] == 1

    # an RDF Patch through the HTTP handler; one subject, so one bucket
    patch = "TX .\n" + "".join(
        f'A <http://e/b0> <http://e/p> "new{i}" .\n' for i in range(3)
    ) + 'D <http://e/b0> <http://e/p> "v0" .\nTC .\n'
    server = SparqlHttpServer(spark, store=store)
    assert server.apply_patch(store, patch.encode(), "application/rdf-patch") == (3, 1)
    assert routes == [("driver", 0), ("driver", 0)], "the driver commit launched Spark jobs"
    assert store.count(spark) == 80 + 1 + 3 - 1

    # touched leaves above the bound: the driver path declines, Spark commits
    monkeypatch.setattr(QuadStore, "SMALL_COMMIT_ROWS", 5)
    store.commit(spark, adds=local_quads(spark, _quads("m", 3)), txn_id="big-leaves",
                 assume_unique=True)
    assert routes[-1][0] == "spark"
    assert store.count(spark) == 80 + 1 + 3 - 1 + 3


# -- the store picks the path from the payload's plan -----------------------


def test_store_picks_commit_path(spark, tmp_path, monkeypatch, driver_commits):
    """Local payloads within DRIVER_COMMIT_ROWS commit on the driver with no
    Spark job; a side over the bound, or one that reads an RDD, a file or
    the store, sends the whole commit to the Spark path."""
    store = QuadStore(str(tmp_path / "r"), n_buckets=4)
    store.commit(spark, adds=local_quads(spark, _quads("a", 20)), txn_id="pre")
    routes = _commit_routes(spark, monkeypatch, driver_commits)

    # the bound is inclusive
    monkeypatch.setattr(store, "DRIVER_COMMIT_ROWS", 5)
    store.commit(spark, adds=local_quads(spark, _quads("at", 5)), txn_id="r1")
    store.commit(spark, adds=local_quads(spark, _quads("over", 6)), txn_id="r2")
    monkeypatch.delattr(store, "DRIVER_COMMIT_ROWS")
    # an RDD-backed side
    store.commit(spark, adds=spark.createDataFrame(_quads("rdd", 3), QUAD_SCHEMA), txn_id="r3")
    # a side that reads the store
    copy = store.read(spark).filter(F.col("subject") == "http://e/a0")
    store.commit(spark, adds=copy.withColumn("graph", F.lit("http://g/copy")), txn_id="r4")
    # local adds with file-backed deletes
    store.commit(
        spark,
        adds=local_quads(spark, _quads("x", 2)),
        deletes=store.read(spark).filter(F.col("subject") == "http://e/a1"),
        txn_id="r5",
    )
    assert routes[0] == ("driver", 0)
    assert [r[0] for r in routes[1:]] == ["spark"] * 4
    assert all(jobs > 0 for _, jobs in routes[1:])

    # SPARQL Update: constant data and a LOAD are local, DELETE WHERE reads the store
    upd = UpdateEngine(spark, store)
    del routes[:]
    upd.update(
        'INSERT DATA { <http://e/i1> <http://e/p> "i" } ; '
        'DELETE DATA { <http://e/a2> <http://e/p> "v2" }',
        txn_id="u1",
    )
    doc = tmp_path / "doc.nt"
    doc.write_text('<http://e/l1> <http://e/p> "l" .\n<http://e/l2> <http://e/p> "l" .\n')
    upd.update(f"LOAD <file://{doc}>", txn_id="u2")
    upd.update("DELETE WHERE { <http://e/a3> ?p ?o }", txn_id="u3")
    # the combined request's adds are INSERT DATA anti-joined with DELETE
    # DATA: still local, but collecting that join runs Spark jobs
    assert [r[0] for r in routes] == ["driver", "driver", "spark"]
    assert routes[1] == ("driver", 0)

    subjects = Counter(r.subject for r in store.read(spark).collect())
    assert subjects["http://e/i1"] == subjects["http://e/l1"] == subjects["http://e/l2"] == 1
    assert "http://e/a2" not in subjects and "http://e/a3" not in subjects
    assert "http://e/a1" not in subjects and subjects["http://e/a0"] == 2


@pytest.mark.parametrize("suffix", ["", "/bucket=0"], ids=["flat", "uuid-bucket"])
def test_old_layout_entry_is_refused(spark, tmp_path, suffix):
    """A manifest entry outside the bucket=N/<uuid> layout — a flat
    pre-bucket ``<uuid>`` leaf or an older ``<uuid>/bucket=N`` one — makes
    read, commit and compact fail naming it, instead of reading it."""
    store = QuadStore(str(tmp_path / "legacy"), n_buckets=2)
    old = uuid.uuid4().hex + suffix
    os.makedirs(os.path.join(store.files_dir, old))
    rows = _quads("f", 3)
    pq.write_table(
        pa.table([pa.array(c, pa.string()) for c in zip(*rows)], names=list(QUAD_SCHEMA.names)),
        os.path.join(store.files_dir, old, "part-00000.parquet"),
    )
    with open(os.path.join(store.path, "_manifest.json"), "w") as f:
        json.dump({"version": 1, "files": [old], "txns": [], "tombstones": []}, f)
    for op in (
        lambda: store.read(spark),
        lambda: store.commit(spark, adds=local_quads(spark, _quads("g", 1)), txn_id="l1"),
        lambda: store.compact(spark, min_files_per_bucket=1),
    ):
        with pytest.raises(ValueError, match=re.escape(old)):
            op()


def _leaves_on_disk(store):
    return {
        f"{b}/{leaf}"
        for b in os.listdir(store.files_dir)
        if b.startswith("bucket=")
        for leaf in os.listdir(os.path.join(store.files_dir, b))
    }


def _staging_dirs(store):
    return [d for d in os.listdir(store.files_dir) if not d.startswith("bucket=")]


@pytest.mark.parametrize("force_spark", [False, True])
def test_vacuum_collects_orphan_leaves(spark, tmp_path, monkeypatch, force_spark):
    """A commit that dies after writing its leaves but before the manifest
    swap leaves orphan leaves; vacuum() deletes them without touching the
    snapshot.  On the Spark writer, so does one that dies between its
    partitioned write and the renames that move its leaves into place."""
    store = QuadStore(str(tmp_path / f"o{force_spark}"), n_buckets=2)
    store.commit(spark, adds=local_quads(spark, _quads("a", 6)), txn_id="o1")
    if force_spark:
        store.DRIVER_COMMIT_ROWS = -1
    before, version = _snapshot(spark, store), store.version

    orig = QuadStore._write_manifest

    def crash_once(self, manifest):
        monkeypatch.setattr(QuadStore, "_write_manifest", orig)
        raise OSError("crash before the manifest swap")

    monkeypatch.setattr(QuadStore, "_write_manifest", crash_once)
    commit = dict(
        adds=local_quads(spark, _quads("b", 6)),
        deletes=local_quads(spark, _quads("a", 2)),
        txn_id="o2",
    )
    with pytest.raises(OSError):
        store.commit(spark, **commit)
    live = set(store._read_manifest()["files"])
    assert _leaves_on_disk(store) - live, "the dead commit wrote no leaf"

    assert store.vacuum() >= 1
    assert _leaves_on_disk(store) == live and not _staging_dirs(store)
    assert store.version == version and _snapshot(spark, store) == before

    if force_spark:
        real_rename, renames = os.rename, []

        def rename_crash_once(src, dst):
            renames.append(src)
            if len(renames) == 2:  # one leaf moved, the rest still staged
                monkeypatch.setattr(os, "rename", real_rename)
                raise OSError("crash between the Spark write and its renames")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename_crash_once)
        with pytest.raises(OSError, match="renames"):
            store.commit(spark, **commit)
        staged = _staging_dirs(store)
        assert len(staged) == 1, staged
        assert os.listdir(os.path.join(store.files_dir, staged[0]))
        assert store.vacuum() >= 2  # the staging dir and the moved leaf
        assert _leaves_on_disk(store) == live and not _staging_dirs(store)
        assert store.version == version and _snapshot(spark, store) == before
    # the txn never committed, so it still applies
    store.commit(spark, **commit)
    assert _snapshot(spark, store) == Counter(_quads("a", 6)[2:] + _quads("b", 6))
