"""The benchmark's workloads: set-up, timed window, answer checks.

Each workload function takes a :class:`Run` and fills it in: end-to-end
values, attempted and failed operation counts, check errors, and (when
tracing) the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.error
import urllib.request
from urllib.parse import quote

import gen
from checks import check_count, check_read, check_set, check_write, parse_nquads_lines
from host import tree_cpu_s

SERVE_CLIENTS = gen.SCRATCH_CLIENTS  # closed-loop HTTP clients
TRICKLE_RATE = 4.0          # offered events per second
TRICKLE_TRIGGER = "250 milliseconds"
WARM_EVENTS = 8             # trickle events streamed before the window opens
WARM_S = 2.0                # ... over this many seconds
# request kinds whose first use in a fresh JVM costs most (the commit path
# behind patch and GSP writes is already warm from the preload)
WARM_KINDS = ("join", "group", "insert", "point", "construct", "ask")
DRAIN_TIMEOUT_S = 60.0


class Run:
    def __init__(self, spark, seed: int, seconds: float, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer          # None when tracing is off
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.store = None
        self.window: tuple[float, float] | None = None
        self.samples: dict[str, list] = {}      # raw latencies, for the run record
        self.trace_counts: dict[int, dict] | None = None

    def error(self, msg: str) -> None:
        self.errors.append(msg)


# -- shared set-up ------------------------------------------------------------

def commit_preload(run: Run, preload: gen.Preload) -> float:
    """Create the store and commit the preload; returns the seconds taken."""
    from jena_fuseki_kafka_spark.store import QuadStore

    t0 = time.perf_counter()
    run.store = QuadStore(os.path.join(run.work, "store"))
    run.store.commit(run.spark, adds=preload.spark_quads(run.spark), txn_id="preload", assume_unique=True)
    return time.perf_counter() - t0


def store_stats(store) -> dict:
    """Leaves, tombstones and bytes of the live snapshot, read from the
    manifest and the files on disk."""
    import pyarrow.parquet as pq

    with open(os.path.join(store.path, "_manifest.json")) as f:
        manifest = json.load(f)
    per_bucket: dict[str, int] = {}
    nbytes = rows = 0
    for entry in manifest["files"]:
        per_bucket[entry.rsplit("/", 1)[-1]] = per_bucket.get(entry.rsplit("/", 1)[-1], 0) + 1
        b, r = leaf_size(os.path.join(store.path, "files", entry), pq)
        nbytes += b
        rows += r
    disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(store.path, "files"))
        for f in fs
    )
    return {
        "leaves": len(manifest["files"]),
        "leaves_per_bucket_max": max(per_bucket.values(), default=0),
        "tombstones": len(manifest.get("tombstones", [])),
        "live_bytes": nbytes,
        "live_rows": rows,
        "disk_bytes": disk,
    }


def leaf_size(leaf: str, pq=None) -> tuple[int, int]:
    if pq is None:
        import pyarrow.parquet as pq
    nbytes = rows = 0
    for f in os.listdir(leaf):
        if f.endswith(".parquet"):
            p = os.path.join(leaf, f)
            nbytes += os.path.getsize(p)
            rows += pq.read_metadata(p).num_rows
    return nbytes, rows


def trace_store(run: Run) -> dict:
    """Trace QuadStore entry points; commit spans record the leaves they add
    and drop (manifest diff), so rewrite and write volumes can be derived."""
    from jena_fuseki_kafka_spark.store import QuadStore

    tr = run.tracer
    acc = {"rewrite_rows": 0, "written_bytes": 0, "written_rows": 0}

    def manifest_files(store):
        with open(os.path.join(store.path, "_manifest.json")) as f:
            return set(json.load(f)["files"])

    orig_commit = QuadStore.commit

    def commit(self, *args, **kwargs):
        if not tr.active:
            return orig_commit(self, *args, **kwargs)
        before = manifest_files(self)
        with tr.span("store.commit"):
            out = orig_commit(self, *args, **kwargs)
        after = manifest_files(self)
        files = os.path.join(self.path, "files")
        for leaf in before - after:
            acc["rewrite_rows"] += leaf_size(os.path.join(files, leaf))[1]
        for leaf in after - before:
            b, r = leaf_size(os.path.join(files, leaf))
            acc["written_bytes"] += b
            acc["written_rows"] += r
        return out

    QuadStore.commit = commit
    tr._undo.append((QuadStore, "commit", orig_commit))
    tr.wrap(QuadStore, "read", "store.read", kind="method")
    tr.wrap(QuadStore, "compact", "store.compact", kind="method")
    return acc


def trace_sparql(run: Run) -> None:
    from jena_fuseki_kafka_spark.sparql import engine, translate, update

    tr = run.tracer
    tr.wrap(engine, "parse_sparql", "sparql.parse")
    tr.wrap(engine.SparqlEngine, "from_store", "sparql.from_store", kind="classmethod")
    tr.wrap(translate.Translator, "translate", "sparql.translate", kind="method")
    tr.wrap(update.UpdateEngine, "update", "sparql.update", kind="method")


def store_layer_metrics(run: Run, summary: dict, acc: dict, deleted_quads: int) -> None:
    c = summary.get("store.commit", {})
    run.layer["store.commit_s"] = c.get("p50_s", 0.0)
    run.layer["store.spark_jobs_per_commit"] = c.get("jobs", 0) / max(1, c.get("n", 0))
    run.layer["store.rewrite_rows_per_deleted_quad"] = acc["rewrite_rows"] / max(1, deleted_quads)
    run.layer["store.compactions"] = summary.get("store.compact", {}).get("n", 0)
    run.layer["store.compact_s"] = summary.get("store.compact", {}).get("total_s", 0.0)
    run.layer["store.read_s"] = summary.get("store.read", {}).get("p50_s", 0.0)
    run.layer["store.bytes_written_per_quad"] = acc["written_bytes"] / max(1, acc["written_rows"])


def end_store_metrics(run: Run) -> None:
    st = store_stats(run.store)
    run.e2e["store_bytes_per_quad"] = st["live_bytes"] / max(1, st["live_rows"])
    run.layer["store.leaves_end"] = st["leaves"]
    run.layer["store.leaves_per_bucket_max"] = st["leaves_per_bucket_max"]
    run.layer["store.tombstones_end"] = st["tombstones"]
    run.layer["store.bytes_on_disk_end"] = st["disk_bytes"]


def parse_kernel_metrics(run: Run, preload: gen.Preload) -> None:
    """Single-process payload parse rate and one parse_events batch to a
    noop sink, over soak-sized N-Quads events cut from the preload."""
    from jena_fuseki_kafka_spark.ingest import EVENT_SCHEMA, parse_events
    from jena_fuseki_kafka_spark.rdf import parse_payload

    events = []
    for i in range(40):
        quads = [q for e in range(i * 100, (i + 1) * 100) for q in sorted(preload.entity_quads(e))]
        events.append("".join(gen.nq_line(q) for q in quads).encode())
    n_quads = 40 * 100 * gen.QUADS_PER_ENTITY
    t0 = time.perf_counter()
    parsed = sum(len(parse_payload(ev, "application/n-quads")) for ev in events)
    dt = time.perf_counter() - t0
    if parsed != n_quads:
        run.error(f"parse kernel: parsed {parsed} quads, expected {n_quads}")
    run.layer["rdf.parse_quads_per_s"] = n_quads / dt
    hdr = [("Content-Type", b"application/n-quads")]
    df = run.spark.createDataFrame(
        [(None, ev, hdr, "kernel", 0, i, None) for i, ev in enumerate(events)], EVENT_SCHEMA
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        parse_events(df).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    run.layer["payloads.parse_s_per_batch"] = sorted(times)[1]


# -- ingest_trickle -------------------------------------------------------------

def _write_event(events_dir: str, ev: gen.TrickleEvent) -> None:
    """One event as a parquet file in the engine's event schema, made
    visible to the file source by an atomic rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hdr_type = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
    table = pa.table({
        "key": pa.array([None], pa.binary()),
        "value": pa.array([ev.body], pa.binary()),
        "headers": pa.array([[{"key": "Content-Type", "value": ev.content_type.encode()}]], hdr_type),
        "topic": pa.array(["trickle"]),
        "partition": pa.array([0], pa.int32()),
        "offset": pa.array([ev.offset], pa.int64()),
        "timestamp": pa.array([None], pa.timestamp("us")),
    })
    tmp = os.path.join(events_dir, f".tmp-{ev.offset}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(events_dir, f"event-{ev.offset:08d}.parquet"))


class BatchLog:
    """Which events each micro-batch carried, from the file source's log in
    the checkpoint, and when that batch's commit returned."""

    def __init__(self, checkpoint: str):
        self.dir = os.path.join(checkpoint, "sources", "0")
        self.visible: dict[int, float] = {}     # event offset -> commit return
        self.commits: list[tuple[int, float]] = []
        self._lock = threading.Lock()

    def on_commit(self, txn_id: str, t: float) -> None:
        batch = int(txn_id.rsplit("-", 1)[1])
        offsets = self.batch_offsets(batch)
        with self._lock:
            self.commits.append((batch, t))
            for off in offsets:
                self.visible.setdefault(off, t)

    def batch_offsets(self, batch: int) -> list[int]:
        for name in (str(batch), f"{batch}.compact"):
            path = os.path.join(self.dir, name)
            if os.path.exists(path):
                with open(path) as f:
                    lines = f.read().splitlines()[1:]
                entries = [json.loads(line) for line in lines if line.strip()]
                return [
                    int(os.path.basename(e["path"]).split("-")[1].split(".")[0])
                    for e in entries
                    if e.get("batchId", batch) == batch
                ]
        return []


def run_trickle(run: Run) -> None:
    from jena_fuseki_kafka_spark.config.connector import ConnectorConfig
    from jena_fuseki_kafka_spark.ingest import streaming
    from pyspark.sql import functions as F

    spark = run.spark
    preload = gen.Preload(run.seed)
    run.setup_parts["store_setup_s"] = commit_preload(run, preload)
    store = run.store
    t_setup = time.perf_counter()
    events_dir = os.path.join(run.work, "events")
    dlq_dir = os.path.join(run.work, "dlq")
    checkpoint = os.path.join(run.work, "trickle-checkpoint")
    os.makedirs(events_dir)
    conn = ConnectorConfig(name="trickle", topics=["trickle"], dataset=store.path, state_dir=checkpoint)
    stream = streaming.IngestStream(
        spark, conn, store=store, source=streaming.file_stream(spark, events_dir), dlq_path=dlq_dir
    )
    log = BatchLog(checkpoint)

    def commit(*args, **kwargs):
        # class lookup at call time, so a traced QuadStore.commit is used
        out = type(store).commit(store, *args, **kwargs)
        log.on_commit(kwargs["txn_id"], time.perf_counter())
        return out

    store.commit = commit
    model = gen.TrickleModel(run.seed)
    late: list[float] = []

    def produce(events, t_open):
        for ev in events:
            due = t_open + ev.due_s
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            _write_event(events_dir, ev)
            late.append(time.perf_counter() - due)

    def drain(events, deadline):
        while time.perf_counter() < deadline:
            with log._lock:
                if all(ev.offset in log.visible for ev in events):
                    return True
            time.sleep(0.02)
        return False

    stream.start(processing_time=TRICKLE_TRIGGER)
    try:
        # warm-up: the first micro-batches of a fresh JVM pay class loading
        # and code generation; stream a few events of the same mix first
        warm = model.schedule(WARM_EVENTS, WARM_S)
        produce(warm, time.perf_counter())
        if not drain(warm, time.perf_counter() + DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up events never became visible")
        run.setup_parts["warmup_s"] = time.perf_counter() - t_setup
        late.clear()

        n_events = max(1, round(TRICKLE_RATE * run.seconds))
        events = model.schedule(n_events, run.seconds)
        acc = None
        batches_before = len(log.commits)
        if run.tracer is not None:
            acc = _trace_trickle(run)
        cpu_open, t_open = tree_cpu_s(), time.perf_counter()
        produce(events, t_open)
        t_close = t_open + run.seconds
        while time.perf_counter() < t_close:
            time.sleep(0.01)
        with log._lock:
            backlog = sum(1 for ev in events if log.visible.get(ev.offset, float("inf")) > t_close)
        drained = drain(events, time.perf_counter() + DRAIN_TIMEOUT_S)
        if run.tracer is not None:
            run.tracer.active = False
        run.window = (t_open, time.perf_counter())
        cpu_used = tree_cpu_s() - cpu_open
        query = stream.query
    finally:
        stream.stop()
        del store.commit
    # read after stop, so the last batch's progress has been posted
    progress = [p for p in query.recentProgress if p["batchId"] >= batches_before]

    run.attempted = len(events)
    lat = []
    for ev in events:
        t = log.visible.get(ev.offset)
        if t is None:
            run.failed += 1
        else:
            lat.append(t - (t_open + ev.due_s))
    if not drained:
        run.error(f"{run.failed} of {len(events)} events not visible {DRAIN_TIMEOUT_S:.0f}s after the window")
    from spans import quantile

    run.e2e["p50_latency_s"] = quantile(lat, 0.5)
    run.layer["process.cpu_s_per_op"] = cpu_used / max(1, len(lat))
    run.samples = {"latency_s": lat}

    # checks: final trickle graphs, total count and dead letters equal the model
    all_events = warm + events
    got = {
        tuple(r)
        for r in store.read(spark).filter(F.col("graph").startswith(gen.EX + "trickle/")).collect()
    }
    err = check_set("trickle graphs", set(model.live), got)
    if err:
        run.error(err)
    err = check_count("store quads", preload.n_quads + len(model.live), store.count(spark))
    if err:
        run.error(err)
    expected_bad = sorted(ev.offset for ev in all_events if ev.kind == "bad")
    err = check_count("dead-letter rows", len(expected_bad), len(dlq_offsets(dlq_dir)))
    if err is None and sorted(dlq_offsets(dlq_dir)) != expected_bad:
        err = "dead-letter rows: offsets differ from the malformed events"
    if err:
        run.error(err)

    end_store_metrics(run)
    if run.tracer is not None:
        _trickle_layers(run, progress, late, backlog, acc, events, log)
        parse_kernel_metrics(run, preload)


def dlq_offsets(dlq_dir: str) -> list[int]:
    import pyarrow.parquet as pq

    if not os.path.isdir(dlq_dir):
        return []
    return pq.read_table(dlq_dir, columns=["offset"]).column("offset").to_pylist()


def _trace_trickle(run: Run) -> dict:
    from jena_fuseki_kafka_spark.ingest import streaming

    tr = run.tracer
    results: list[dict] = []

    def on_batch(span, res):
        results.append(res)

    tr.wrap(
        streaming, "apply_event_batch", "projector.apply_event_batch",
        op_of=lambda a, k: k.get("txn_id"), on_result=on_batch,
    )
    acc = trace_store(run)
    acc["batch_results"] = results
    tr.active = True
    return acc


def _trickle_layers(run, progress, late, backlog, acc, events, log) -> None:
    from spans import p50

    counts = run.tracer.spark_counts()
    summary = run.tracer.summary(counts)
    run.trace_counts = counts
    b = summary.get("projector.apply_event_batch", {})
    selfs = run.tracer.self_times()
    batch_spans = [s for s in run.tracer.spans if s.name == "projector.apply_event_batch"]
    run.layer["projector.batch_s"] = b.get("p50_s", 0.0)
    run.layer["projector.self_s"] = p50([selfs[s.id] for s in batch_spans])
    n = max(1, b.get("n", 0))
    run.layer["projector.spark_jobs_per_batch"] = b.get("jobs", 0) / n
    run.layer["projector.shuffle_bytes_per_batch"] = b.get("shuffle_bytes", 0) / n
    run.layer["projector.dlq_rows"] = sum(r["n_dlq"] for r in acc["batch_results"])
    dur = [p["durationMs"] for p in progress]
    run.layer["streaming.trigger_ms"] = p50([d.get("triggerExecution", 0) for d in dur])
    run.layer["streaming.add_batch_ms"] = p50([d.get("addBatch", 0) for d in dur])
    run.layer["streaming.wal_commit_ms"] = p50([d.get("walCommit", 0) for d in dur])
    run.layer["streaming.overhead_ms"] = p50([d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur])
    run.layer["streaming.batches"] = len(progress)
    run.layer["streaming.rows_per_batch"] = sum(p["numInputRows"] for p in progress) / max(1, len(progress))
    run.layer["trickle.generator_late_s"] = p50(late)
    run.layer["trickle.backlog_end"] = backlog
    deleted = sum(len(ev.deletes) for ev in events)
    store_layer_metrics(run, summary, acc, deleted)


# -- serve_mixed ------------------------------------------------------------------

class Client:
    """One closed-loop HTTP client with its own seeded op sequence and its
    own model of the scratch-graph quads it wrote."""

    def __init__(self, run: Run, preload: gen.Preload, base: str, idx: int):
        self.preload, self.base, self.idx = preload, base, idx
        self.rng = random.Random(run.seed * 31 + idx)
        self.kinds = gen.client_kinds(run.seed, idx, 200)
        self.pos = 0
        # (s, p, o) of this client's live scratch quads, preloaded ones first
        self.live: dict[tuple, None] = dict.fromkeys(gen.Preload.scratch_pool(idx))
        self.next_id = gen.SCRATCH_POOL
        self.samples: list[tuple] = []          # (kind, latency, t_send, t_recv, key)
        self.failed = 0
        self.errors: list[str] = []

    # request builders return (method, path, body, content_type, key, check)
    def _fresh(self) -> tuple:
        self.next_id += 1
        return gen.scratch_triple(self.idx, self.next_id - 1)

    def _victim(self) -> tuple:
        return next(iter(self.live))

    def build(self, kind: str):
        p, rng = self.preload, self.rng
        ex = gen.EX
        if kind == "point":
            k = rng.randrange(p.n)
            q = f"SELECT ?g ?p ?o WHERE {{ GRAPH ?g {{ <{gen.entity_iri(k)}> ?p ?o }} }}"
            expected = {(g, pr, v) for g, _s, pr, _k, v, _d, _l in p.entity_quads(k)}
            return self._query(kind, q, expected)
        if kind == "join":
            g, c, t = rng.randrange(gen.N_GRAPHS), rng.randrange(gen.N_CLASSES), 9900 + rng.randrange(50)
            q = (
                f"SELECT ?s ?v WHERE {{ GRAPH <{gen.graph_iri(g)}> {{ ?s a <{ex}C{c}> ; <{ex}value> ?v }} "
                f"FILTER(?v >= {t}) }}"
            )
            expected = {
                (gen.entity_iri(x.e), str(x.value))
                for x in p.entities if x.graph == g and x.cls == c and x.value >= t
            }
            return self._query(kind, q, expected)
        if kind == "group":
            c = rng.randrange(gen.N_CLASSES)
            q = f"SELECT ?g (COUNT(?s) AS ?n) WHERE {{ GRAPH ?g {{ ?s a <{ex}C{c}> }} }} GROUP BY ?g"
            expected: dict = {}
            for x in p.entities:
                if x.cls == c:
                    expected[gen.graph_iri(x.graph)] = expected.get(gen.graph_iri(x.graph), 0) + 1
            return self._query(kind, q, expected)
        if kind == "ask":
            k = rng.randrange(p.n)
            j = p.entities[k].knows if rng.random() < 0.5 else rng.randrange(p.n)
            q = f"ASK {{ GRAPH ?g {{ <{gen.entity_iri(k)}> <{ex}knows> <{gen.entity_iri(j)}> }} }}"
            return self._query(kind, q, p.entities[k].knows == j)
        if kind == "construct":
            k = rng.randrange(p.n)
            s = gen.entity_iri(k)
            q = f"CONSTRUCT {{ <{s}> ?p ?o }} WHERE {{ GRAPH ?g {{ <{s}> ?p ?o }} }}"
            expected = {(s, pr, v) for _g, _s, pr, _k, v, _d, _l in p.entity_quads(k)}
            return self._query(kind, q, expected, accept="application/n-quads")
        if kind == "gsp_get":
            path = "/data?graph=" + quote(gen.META_GRAPH, safe="")
            expected = {(s, pr, v) for _g, s, pr, _k, v, _d, _l in p.meta_quads()}
            return ("GET", path, None, None, gen.META_GRAPH, ("read", kind, expected), "application/n-quads")
        if kind == "insert":
            t = self._fresh()
            self.live[t] = None
            u = f'INSERT DATA {{ GRAPH <{gen.SCRATCH_GRAPH}> {{ <{t[0]}> <{t[1]}> "{t[2]}" }} }}'
            return ("POST", "/update", u.encode(), "application/sparql-update", u, ("write", kind, None), None)
        if kind == "delete":
            t = self._victim()
            del self.live[t]
            u = f'DELETE DATA {{ GRAPH <{gen.SCRATCH_GRAPH}> {{ <{t[0]}> <{t[1]}> "{t[2]}" }} }}'
            return ("POST", "/update", u.encode(), "application/sparql-update", u, ("write", kind, None), None)
        if kind == "patch":
            a, d = self._fresh(), self._victim()
            del self.live[d]
            self.live[a] = None
            g = gen.SCRATCH_GRAPH
            body = f'TX .\nA <{a[0]}> <{a[1]}> "{a[2]}" <{g}> .\nD <{d[0]}> <{d[1]}> "{d[2]}" <{g}> .\nTC .\n'
            return ("POST", "/patch", body.encode(), "application/rdf-patch", body.encode(),
                    ("write", kind, {"adds": 1, "deletes": 1}), None)
        if kind == "gsp_post":
            ts = [self._fresh(), self._fresh()]
            for t in ts:
                self.live[t] = None
            body = "".join(f'<{s}> <{pr}> "{o}" .\n' for s, pr, o in ts).encode()
            path = "/data?graph=" + quote(gen.SCRATCH_GRAPH, safe="")
            return ("POST", path, body, "application/n-triples", body, ("write", kind, {"quads": 2}), None)
        raise ValueError(kind)

    def _query(self, kind, q, expected, accept="application/sparql-results+json"):
        return ("GET", "/query?query=" + quote(q, safe=""), None, None, q, ("read", kind, expected), accept)

    def request(self, kind: str) -> None:
        method, path, body, ctype, key, (rw, _k, expected), accept = self.build(kind)
        req = urllib.request.Request(self.base + path, data=body, method=method)
        if ctype:
            req.add_header("Content-Type", ctype)
        if accept:
            req.add_header("Accept", accept)
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                status, out = resp.status, resp.read()
        except urllib.error.HTTPError as e:
            status, out = e.code, e.read()
        except (urllib.error.URLError, OSError) as e:
            status, out = 0, str(e).encode()
        t1 = time.perf_counter()
        if rw == "read":
            err = f"{kind}: HTTP {status}" if status != 200 else check_read(kind, expected, out)
        else:
            err = check_write(kind, expected, status, out)
        if err:
            self.failed += 1
            self.errors.append(err)
        self.samples.append((kind, t1 - t0, t0, t1, key))

    def loop(self, deadline: float) -> None:
        """Run whole blocks, so every run sees the mix in its exact
        proportions; start another block only while at least half a block's
        time is left before the deadline."""
        t_start, blocks = time.perf_counter(), 0
        while True:
            now = time.perf_counter()
            if blocks and now + 0.5 * (now - t_start) / blocks > deadline:
                return
            for _ in range(gen.BLOCK_LEN):
                self.request(self.kinds[self.pos])
                self.pos += 1
            blocks += 1


def run_serve(run: Run) -> None:
    from jena_fuseki_kafka_spark.server import SparqlHttpServer

    preload = gen.Preload(run.seed)
    run.setup_parts["store_setup_s"] = commit_preload(run, preload)
    t_setup = time.perf_counter()
    srv = SparqlHttpServer(run.spark, run.store, dataset="ds")
    port = srv.start()
    base = f"http://127.0.0.1:{port}/ds"
    try:
        clients = [Client(run, preload, base, i) for i in range(SERVE_CLIENTS)]
        # warm-up: a fresh JVM compiles each request kind's code paths on
        # first use, so the clients first share one request of each WARM_KINDS
        _run_threads([
            (lambda c, ks: [c.request(k) for k in ks], (c, WARM_KINDS[i::SERVE_CLIENTS]))
            for i, c in enumerate(clients)
        ])
        for c in clients:
            if c.failed:
                run.error("warm-up: " + "; ".join(c.errors[:3]))
            c.failed, c.errors, c.samples = 0, [], []
        run.setup_parts["warmup_s"] = time.perf_counter() - t_setup

        acc = None
        if run.tracer is not None:
            acc = _trace_serve(run)
        cpu_open, t_open = tree_cpu_s(), time.perf_counter()
        deadline = t_open + run.seconds
        _run_threads([(c.loop, (deadline,)) for c in clients])
        t_end = time.perf_counter()
        cpu_used = tree_cpu_s() - cpu_open
        if run.tracer is not None:
            run.tracer.active = False
        run.window = (t_open, t_end)

        samples = [s for c in clients for s in c.samples]
        run.attempted = len(samples)
        run.failed = sum(c.failed for c in clients)
        for c in clients:
            for e in c.errors[:5]:
                run.error(e)
        from spans import p50, quantile

        lat = [s[1] for s in samples]
        run.e2e["p50_latency_s"] = quantile(lat, 0.5)
        run.layer["process.cpu_s_per_op"] = cpu_used / max(1, len(samples))
        run.samples = {"latency_s": lat, "kinds": [s[0] for s in samples]}

        # check: the scratch graph holds exactly what the clients wrote
        req = urllib.request.Request(base + "/data?graph=" + quote(gen.SCRATCH_GRAPH, safe=""))
        req.add_header("Accept", "application/n-quads")
        with urllib.request.urlopen(req, timeout=120) as resp:
            got = parse_nquads_lines(resp.read().decode("utf-8"))
        expected = {t for c in clients for t in c.live}
        err = check_set("scratch graph", expected, got)
        if err:
            run.error(err)

        end_store_metrics(run)
        if run.tracer is not None:
            for kind in gen.READ_KINDS + gen.WRITE_KINDS:
                run.layer[f"serve.{kind}_s"] = p50([s[1] for s in samples if s[0] == kind])
            deleted = sum(1 for s in samples if s[0] in ("delete", "patch"))
            _serve_layers(run, samples, acc, deleted)
            parse_kernel_metrics(run, preload)
    finally:
        srv.stop()


def _run_threads(jobs) -> None:
    errors = []

    def guard(fn, args):
        try:
            fn(*args)
        except Exception as e:  # reported as a failed run, never swallowed
            errors.append(e)

    threads = [threading.Thread(target=guard, args=job) for job in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _trace_serve(run: Run) -> dict:
    from jena_fuseki_kafka_spark.server import SparqlHttpServer

    tr = run.tracer

    def streamed(span, result):
        # keep the request span open until the handler has drained the
        # chunk iterator: execution and serialisation happen there
        ctype, chunks = result

        def consume():
            try:
                with tr.span("server.stream"):
                    yield from chunks
            finally:
                tr.end(span)

        return ctype, consume()

    for attr, streams in (
        ("run_query", True), ("run_update", False), ("gsp_read", True),
        ("gsp_write", False), ("apply_patch", False),
    ):
        def on_result(span, result, _streams=streams):
            return streamed(span, result) if _streams else None

        _wrap_server(tr, SparqlHttpServer, attr, on_result)
    trace_sparql(run)
    acc = trace_store(run)
    tr.active = True
    return acc


def _wrap_server(tr, cls, attr, on_result) -> None:
    """Trace a SparqlHttpServer operation.  Every operation takes (store,
    text-or-body-or-graph, ...); the span remembers that second argument so
    it can be matched to the client request that sent it."""
    orig = getattr(cls, attr)

    def traced(self, *args, **kwargs):
        if not tr.active:
            return orig(self, *args, **kwargs)
        s = tr.begin(f"server.{attr}")
        key = args[1] if len(args) > 1 else None
        s.attrs["key"] = key if isinstance(key, str) else (key.decode("utf-8", "replace") if key else key)
        try:
            result = orig(self, *args, **kwargs)
        except BaseException:
            tr.end(s)
            raise
        replaced = on_result(s, result)
        if replaced is not None:
            return replaced
        tr.end(s)
        return result

    setattr(cls, attr, traced)
    tr._undo.append((cls, attr, orig))


def _serve_layers(run: Run, samples, acc, deleted: int) -> None:
    from spans import p50

    tr = run.tracer
    counts = tr.spark_counts()
    summary = tr.summary(counts)
    run.trace_counts = counts
    roots = [s for s in tr.spans if s.name.startswith("server.") and s.name != "server.stream"]
    overhead, used = [], set()
    for kind, lat, t0, t1, key in samples:
        k = key.decode("utf-8", "replace") if isinstance(key, bytes) else key
        for s in roots:
            if s.id not in used and s.attrs.get("key") == k and s.start >= t0 and s.end <= t1:
                used.add(s.id)
                s.op = f"{kind}@{t0:.6f}"
                overhead.append(lat - (s.end - s.start))
                break
    run.layer["server.http_overhead_s"] = p50(overhead)
    run.layer["server.stream_s"] = summary.get("server.stream", {}).get("p50_s", 0.0)
    for name, metric in (
        ("sparql.parse", "sparql.parse_s"), ("sparql.from_store", "sparql.from_store_s"),
        ("sparql.translate", "sparql.translate_s"), ("sparql.update", "sparql.update_s"),
    ):
        run.layer[metric] = summary.get(name, {}).get("p50_s", 0.0)
    q = summary.get("server.run_query", {})
    # a query's jobs include those of its children: build, execute, stream
    run.layer["sparql.spark_jobs_per_query"] = (
        _subtree_jobs(tr, counts, "server.run_query") / max(1, q.get("n", 0))
    )
    store_layer_metrics(run, summary, acc, deleted)


def _subtree_jobs(tr, counts, root_name: str) -> int:
    children: dict[int, list] = {}
    for s in tr.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def total(s):
        return counts.get(s.id, {}).get("jobs", 0) + sum(total(c) for c in children.get(s.id, []))

    return sum(total(s) for s in tr.spans if s.name == root_name)
