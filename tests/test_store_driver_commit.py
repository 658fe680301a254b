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
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA, apply_event_batch
from jena_fuseki_kafka_spark.model import QUAD_SCHEMA
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.store import QuadStore, local_quads


def _quads(prefix: str, n: int, graph: str = "", dt=None, lang=None):
    return [
        (graph, f"http://e/{prefix}{i}", "http://e/p", "literal", f"v{i}", dt, lang)
        for i in range(n)
    ]


def _snapshot(spark, store):
    """The store's rows as a multiset (None-safe, duplicate-sensitive)."""
    return Counter(tuple(r) for r in store.read(spark).collect())


@pytest.mark.parametrize("force_spark", [False, True])
def test_commit_sequence_snapshot_parity(spark, tmp_path, force_spark):
    """The same commit sequence through the driver path (default) and
    through the distributed writer (DRIVER_COMMIT_ROWS forced to -1)
    must produce identical snapshots at every step."""
    store = QuadStore(str(tmp_path / f"s{force_spark}"), n_buckets=4)
    if force_spark:
        store.DRIVER_COMMIT_ROWS = -1  # instance override: never driver-commit

    def df(rows):
        return spark.createDataFrame(rows, QUAD_SCHEMA)

    base = _quads("a", 50) + _quads("n", 3, dt="http://www.w3.org/2001/XMLSchema#string")
    v1 = store.commit(spark, adds=df(base), txn_id="t1", assume_unique=True,
                      n_adds_hint=len(base))
    assert v1 == 1
    # set-semantics: re-adding overlapping rows inserts only the new ones
    overlap = base[:10] + _quads("b", 5)
    store.commit(spark, adds=df(overlap), txn_id="t2", assume_unique=True,
                 n_adds_hint=len(overlap))
    # delete a slice (some rows present, some not)
    dels = base[5:15] + _quads("ghost", 3)
    store.commit(spark, deletes=df(dels), txn_id="t3", n_deletes_hint=len(dels))
    # mixed add+delete in one commit
    store.commit(
        spark,
        adds=df(_quads("c", 4)),
        deletes=df(base[20:25]),
        txn_id="t4",
        assume_unique=True,
        n_adds_hint=4,
        n_deletes_hint=5,
    )
    # idempotent replay of an applied txn is a no-op
    v = store.version
    assert store.commit(spark, adds=df(_quads("dup", 9)), txn_id="t4",
                        n_adds_hint=9) == v

    expect = Counter(
        set(map(tuple, base)) - set(map(tuple, base[5:15])) - set(map(tuple, base[20:25]))
        | set(map(tuple, _quads("b", 5)))
        | set(map(tuple, _quads("c", 4)))
    )
    assert _snapshot(spark, store) == expect


def test_cross_writer_interop(spark, tmp_path):
    """Rows written by the distributed writer must be deletable through
    the driver path and vice versa — i.e. both writers agree on bucket
    placement."""
    store = QuadStore(str(tmp_path / "x"), n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, QUAD_SCHEMA)

    spark_rows = _quads("sw", 30)
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, adds=df(spark_rows), txn_id="w1", assume_unique=True,
                 n_adds_hint=len(spark_rows))
    store.DRIVER_COMMIT_ROWS = QuadStore.DRIVER_COMMIT_ROWS
    driver_rows = _quads("dw", 30)
    store.commit(spark, adds=df(driver_rows), txn_id="w2", assume_unique=True,
                 n_adds_hint=len(driver_rows))

    # driver path deletes Spark-written rows
    store.commit(spark, deletes=df(spark_rows[:10]), txn_id="w3",
                 n_deletes_hint=10)
    # Spark path deletes driver-written rows
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, deletes=df(driver_rows[:10]), txn_id="w4",
                 n_deletes_hint=10)

    expect = Counter(set(map(tuple, spark_rows[10:])) | set(map(tuple, driver_rows[10:])))
    assert _snapshot(spark, store) == expect


def test_driver_path_actually_engages(spark, tmp_path, monkeypatch):
    """A hinted request-sized commit must take the driver path (no write
    job): pin it so a future regression doesn't silently re-route every
    HTTP mutation through three Spark jobs."""
    store = QuadStore(str(tmp_path / "e"), n_buckets=2)
    calls = []
    orig = QuadStore._driver_commit

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        calls.append(out)
        return out

    monkeypatch.setattr(QuadStore, "_driver_commit", spy)
    rows = _quads("p", 20)
    store.commit(spark, adds=spark.createDataFrame(rows, QUAD_SCHEMA),
                 txn_id="e1", assume_unique=True, n_adds_hint=len(rows))
    assert calls and calls[-1] == 1, "driver commit did not engage (or fell back)"


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
            n_adds_hint=len(adds) if adds else None,
            n_deletes_hint=len(dels) if dels else None,
        )


def test_arrow_and_spark_commit_agree(spark, tmp_path):
    counter = itertools.count()

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
    @given(seq=st.lists(_commit, min_size=1, max_size=3))
    def check(seq):
        n = next(counter)
        arrow = QuadStore(str(tmp_path / f"a{n}"), n_buckets=2)
        spark_store = QuadStore(str(tmp_path / f"s{n}"), n_buckets=2)
        spark_store.DRIVER_COMMIT_ROWS = -1
        _apply(spark, arrow, seq, "t")
        _apply(spark, spark_store, seq, "t")
        model: set = set()
        for adds, dels, _unique in seq:
            model = (model - set(dels)) | set(adds)
        assert _snapshot(spark, arrow) == _snapshot(spark, spark_store) == Counter(model)

    check()


def test_arrow_commit_edge_sequence(spark, tmp_path):
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
    _apply(spark, arrow, seq, "t")
    _apply(spark, spark_store, seq, "t")
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


def test_fast_path_engages_when_only_touched_leaves_fit(spark, tmp_path, monkeypatch):
    """A store bigger than SMALL_COMMIT_ROWS still commits on the driver
    when the touched bucket leaves fit: a 1-event micro-batch and an HTTP
    RDF Patch (a hinted commit) both take the Arrow path, and
    QuadStore.commit launches no Spark job."""
    store = QuadStore(str(tmp_path / "f"), n_buckets=4)
    base = _quads("b", 80)
    store.commit(spark, adds=spark.createDataFrame(base, QUAD_SCHEMA), txn_id="pre")
    monkeypatch.setattr(QuadStore, "SMALL_COMMIT_ROWS", 40)  # store: 80 rows, ~20 per bucket

    driver_results = []
    orig_driver = QuadStore._driver_commit

    def spy(self, *a, **k):
        out = orig_driver(self, *a, **k)
        driver_results.append(out)
        return out

    monkeypatch.setattr(QuadStore, "_driver_commit", spy)
    commit_jobs = []
    orig_commit = QuadStore.commit

    def counted_commit(self, *a, **k):
        out, jobs = _spark_jobs(spark, lambda: orig_commit(self, *a, **k))
        commit_jobs.append(jobs)
        return out

    monkeypatch.setattr(QuadStore, "commit", counted_commit)

    ts = datetime.datetime(2026, 1, 1)
    event = (b"k", b'<http://e/new> <http://e/p> "v" .', [], "t", 0, 0, ts)
    res = apply_event_batch(spark, store, spark.createDataFrame([event], EVENT_SCHEMA),
                            txn_id="one-event")
    assert res["n_adds"] == 1
    assert driver_results and driver_results[-1] == res["version"]

    # an RDF Patch through the HTTP handler; one subject, so one bucket
    patch = "TX .\n" + "".join(
        f'A <http://e/b0> <http://e/p> "new{i}" .\n' for i in range(3)
    ) + 'D <http://e/b0> <http://e/p> "v0" .\nTC .\n'
    server = SparqlHttpServer(spark, store=store)
    assert server.apply_patch(store, patch.encode(), "application/rdf-patch") == (3, 1)
    assert driver_results[-1] == store.version
    assert commit_jobs == [0, 0], "the driver commit launched Spark jobs"
    assert store.count(spark) == 80 + 1 + 3 - 1

    # touched leaves above the bound: the driver path declines, Spark commits
    monkeypatch.setattr(QuadStore, "SMALL_COMMIT_ROWS", 5)
    more = _quads("m", 3)
    version = store.commit(spark, adds=local_quads(spark, more), txn_id="big-leaves",
                           assume_unique=True, n_adds_hint=len(more))
    assert driver_results[-1] is None and store.version == version
    assert store.count(spark) == 80 + 1 + 3 - 1 + 3
