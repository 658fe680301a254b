"""HTTP facade: the four Fuseki service operations over a QuadStore.

The reference's serving contract wires exactly these endpoints per
dataset (config-connector.ttl:14-17 — ``fuseki:query``,
``fuseki:update``, ``fuseki:gsp-rw``, ``fuseki:patch``), and its e2e
tests verify ingestion by running SPARQL over HTTP
(DockerTestConfigFK.java:392-397).  This module serves the same four
operations over the engine:

  GET/POST  /{ds}/query   SPARQL Query (param, form, or raw body);
                          SELECT/ASK -> SPARQL results JSON,
                          CONSTRUCT/DESCRIBE -> N-Quads
  POST      /{ds}/update  SPARQL Update (form or raw body)
  GET       /{ds}/data    Graph Store Protocol read (?graph=<iri>|default;
                          omitted -> whole dataset)
  PUT/POST  /{ds}/data    GSP replace / merge into a graph (RDF body,
                          Content-Type selects the parser)
  DELETE    /{ds}/data    GSP drop graph
  PATCH     /{ds}/patch   RDF Patch body applied transactionally
  POST      /{ds}/patch   (same, for clients that can't send PATCH)

Single-process by design: this is the driver-side control surface (like
Fuseki's HTTP layer in front of the store), not a data-plane service —
reads and writes execute as Spark jobs on the cluster.
"""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession, functions as F

from .model import DEFAULT_GRAPH, RdfParseError
from .rdf.content_types import parse_payload
from .rdf.serialize import (
    iter_nquads,
    negotiate_dataset_streamer,
    negotiate_graph_streamer,
    negotiate_results_streamer,
)
from .sparql import SparqlEngine
from .sparql.ast import Call, ConstructQuery, DescribeQuery, SelectQuery
from .sparql.translate import AGG_NAMES
from .sparql.update import UpdateEngine
from .store import QuadStore, local_quads

_JSON = "application/sparql-results+json"

# SELECTs whose row count is provably small FROM THE QUERY SHAPE are
# collect()-ed instead of streamed through toLocalIterator: one job
# instead of the iterator's socket-server + per-partition job machinery
# (measured ~0.2s/request on count-shaped queries).  "Provably small" =
# an explicit LIMIT at or under this bound, or an ungrouped all-aggregate
# projection (exactly one row).  Everything else keeps the streaming
# path — driver memory stays bounded by construction, never by trust.
BOUNDED_COLLECT_ROWS = 10_000


def _bounded_result(ast) -> bool:
    if not isinstance(ast, SelectQuery):
        return False
    if ast.limit is not None and ast.limit <= BOUNDED_COLLECT_ROWS:
        return True
    if ast.projection and not ast.group_by:
        # every projected expression an aggregate -> global aggregate,
        # exactly one row (plain vars / computed exprs fail the test)
        return all(
            isinstance(e, Call) and e.name in AGG_NAMES
            for _, e in ast.projection
        )
    return False



class NotAcceptable(Exception):
    """Negotiated format cannot represent the requested resource (HTTP 406)."""


class SparqlHttpServer:
    """Serve one or more QuadStores over HTTP.  ``start()`` binds (port 0
    picks a free port) and returns the bound port; ``stop()`` shuts down.

    Multi-dataset: pass ``stores={"ds1": store1, "ds2": store2}`` (the
    Fuseki shape — one server, N dataset services).  ``from_engine``
    exposes every connector's store under its dataset name."""

    def __init__(
        self,
        spark: SparkSession,
        store: QuadStore | None = None,
        dataset: str = "ds",
        stores: dict[str, QuadStore] | None = None,
    ):
        self.spark = spark
        if stores is None:
            if store is None:
                raise ValueError("need store= or stores=")
            stores = {dataset.strip("/"): store}
        self.stores = {name.strip("/"): s for name, s in stores.items()}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._txn_counter = 0
        self._lock = threading.Lock()

    @classmethod
    def from_engine(cls, engine) -> "SparqlHttpServer":
        """One service per connector dataset (FMod_FusekiKafka wires the
        same: each fk:Connector's dataset gets the four operations)."""
        stores = {}
        for stream in engine.streams.values():
            name = stream.conn.dataset.strip("/").split("/")[-1] or stream.conn.name
            stores[name] = stream.store
        return cls(engine.spark, stores=stores)

    # ------------------------------------------------------------ lifecycle
    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        # HTTP/1.1 keep-alive leaves handler threads parked in recv between
        # requests; don't let them block shutdown
        self._httpd.daemon_threads = True
        self._httpd.block_on_close = False
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def _next_txn(self, kind: str) -> str:
        with self._lock:
            self._txn_counter += 1
            return f"http-{kind}-{self._txn_counter}"

    # ------------------------------------------------------------ operations
    def run_query(
        self,
        store: QuadStore,
        text: str,
        accept: str | None = None,
        dataset: tuple | None = None,
    ):
        """Returns (content_type, chunk_iterator).  Results stream off the
        executors via ``toLocalIterator`` — driver memory is bounded by one
        partition, and the HTTP layer writes chunked, so a store-sized
        CONSTRUCT or SELECT never materializes on the driver.

        ``dataset`` carries the SPARQL 1.1 Protocol ``default-graph-uri`` /
        ``named-graph-uri`` parameters, which override FROM clauses."""
        engine = SparqlEngine.from_store(self.spark, store)
        ast, result = engine.query_typed(text, dataset=dataset)
        # branch on the parsed query form, NOT result column names: a
        # SELECT projecting variables named like the quad columns must
        # still serialize as SPARQL results
        if isinstance(ast, (ConstructQuery, DescribeQuery)):
            stream, content_type, _ = negotiate_graph_streamer(accept)
            if stream is not iter_nquads:
                # subject-grouped syntaxes: distributed sort, then stream
                # consecutive runs (compact blocks, O(partition) memory)
                result = result.orderBy("graph", "subject")
            return content_type, stream(result.toLocalIterator())
        (select_stream, ask_fn), content_type = negotiate_results_streamer(accept)
        if isinstance(result, bool):
            return content_type, iter((ask_fn(result),))
        return content_type, select_stream(result, bounded=_bounded_result(ast))

    def run_update(
        self, store: QuadStore, text: str, dataset: tuple | None = None
    ) -> dict:
        return UpdateEngine(self.spark, store).update(
            text, txn_id=self._next_txn("update"), protocol_dataset=dataset
        )

    def gsp_read(self, store: QuadStore, graph: str | None, accept: str | None = None):
        """Returns (content_type, chunk_iterator).  A whole-dataset read in
        a triple-only syntax (Turtle, RDF/XML) would silently flatten named
        graphs into one graph — dataset negotiation skips triple-only
        preferences (a wildcard picks TriG, like Fuseki) and refuses with
        406 only when the client insists on exclusively lossy formats (the
        graph= / default cases are fine: the client named the one graph it
        wants)."""
        if graph is None:
            negotiated = negotiate_dataset_streamer(accept)
            if negotiated is None:
                raise NotAcceptable(
                    "none of the requested formats can represent a "
                    "multi-graph dataset; request ?graph=<iri> / ?default, "
                    "or Accept a quad format (application/n-quads, "
                    "application/trig, application/ld+json)"
                )
            stream, content_type = negotiated
        else:
            stream, content_type, _ = negotiate_graph_streamer(accept)
        df = store.read(self.spark)
        if graph == "default":
            df = df.filter(F.col("graph") == DEFAULT_GRAPH)
        elif graph:
            df = df.filter(F.col("graph") == graph)
        if stream is not iter_nquads:
            df = df.orderBy("graph", "subject")
        return content_type, stream(df.toLocalIterator())

    def gsp_write(self, store: QuadStore, body: bytes, content_type: str | None, graph: str | None, replace: bool):
        # fresh bnode scope per request: two uploads both saying _:b1
        # describe different nodes (document-scoped labels, like Jena)
        ops = parse_payload(body, content_type, bnode_suffix=uuid.uuid4().hex[:12])
        target = DEFAULT_GRAPH if graph in (None, "default") else graph
        rows = []
        for op in ops:
            if op[0] != "A":
                raise RdfParseError("GSP write body must not contain deletes")
            g = op[1] if op[1] != DEFAULT_GRAPH and graph is None else target
            rows.append((g,) + tuple(op[2:]))
        # dedup on the driver (request-sized list) so commit can skip the
        # dropDuplicates shuffle
        rows = list(dict.fromkeys(rows))
        adds = local_quads(self.spark, rows)
        deletes = None
        if replace and store.version > 0:
            # an empty store has nothing to replace — keep deletes None so
            # the first upload commits as a local payload
            deletes = store.read(self.spark).filter(F.col("graph") == target)
        store.commit(
            self.spark, adds=adds, deletes=deletes, txn_id=self._next_txn("gsp"),
            assume_unique=True,
            # a replaced graph is store-sized: shuffle, never broadcast
            broadcast_deletes=deletes is None,
        )
        return len(rows)

    def gsp_delete(self, store: QuadStore, graph: str | None):
        target = DEFAULT_GRAPH if graph in (None, "default") else graph
        deletes = store.read(self.spark).filter(F.col("graph") == target)
        store.commit(
            self.spark, deletes=deletes, txn_id=self._next_txn("gsp-del"),
            broadcast_deletes=False,
        )

    def apply_patch(self, store: QuadStore, body: bytes, content_type: str | None):
        ops = parse_payload(body, content_type or "application/rdf-patch")
        adds = list(dict.fromkeys(op[1:] for op in ops if op[0] == "A"))
        dels = [op[1:] for op in ops if op[0] == "D"]
        store.commit(
            self.spark,
            adds=local_quads(self.spark, adds) if adds else None,
            deletes=local_quads(self.spark, dels) if dels else None,
            txn_id=self._next_txn("patch"),
            assume_unique=True,
        )
        return len(adds), len(dels)


def _make_handler(server: SparqlHttpServer):
    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.1 so streamed responses can use chunked transfer encoding
        # (every response sends Content-Length or Transfer-Encoding, as the
        # protocol requires for persistent connections)
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):  # quiet
            pass

        # ---------------------------------------------------- plumbing
        def _send(self, code: int, content_type: str, body: str):
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _send_stream(self, code: int, content_type: str, chunks):
            """Stream an iterator of text chunks as a chunked response.
            Chunks coalesce to ~64 KiB wire writes; at no point does the
            full payload exist in driver memory."""
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()

            def emit(data: bytes):
                self.wfile.write(f"{len(data):X}\r\n".encode("ascii"))
                self.wfile.write(data)
                self.wfile.write(b"\r\n")

            buf: list[bytes] = []
            size = 0
            for chunk in chunks:
                data = chunk.encode("utf-8")
                if not data:
                    continue
                buf.append(data)
                size += len(data)
                if size >= 65536:
                    emit(b"".join(buf))
                    buf, size = [], 0
            if buf:
                emit(b"".join(buf))
            self.wfile.write(b"0\r\n\r\n")

        def _error(self, code: int, msg: str):
            self._send(code, "text/plain", msg + "\n")

        def _route(self):
            parsed = urlparse(self.path)
            parts = [p for p in parsed.path.split("/") if p]
            qs = parse_qs(parsed.query)
            if len(parts) != 2:
                return None, None, qs
            return server.stores.get(parts[0]), parts[1], qs

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def _graph_param(self, qs) -> str | None:
            if "default" in qs:
                return "default"
            vals = qs.get("graph")
            return vals[0] if vals else None

        # ---------------------------------------------------- methods
        def do_GET(self):
            store, op, qs = self._route()
            if store is None:
                return self._error(404, "unknown dataset")
            if op == "query":
                q = qs.get("query", [None])[0]
                if not q:
                    return self._error(400, "missing query parameter")
                return self._run_query(store, q, self._dataset_params(qs))
            if op == "data":
                try:
                    ct, chunks = server.gsp_read(
                        store, self._graph_param(qs), self.headers.get("Accept")
                    )
                    return self._send_stream(200, ct, chunks)
                except NotAcceptable as e:
                    return self._error(406, str(e))
                except Exception as e:  # pragma: no cover - defensive
                    return self._error(500, str(e))
            return self._error(404, "unknown endpoint")

        def do_POST(self):
            store, op, qs = self._route()
            if store is None:
                return self._error(404, "unknown dataset")
            body = self._body()
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            if op == "query":
                if ct == "application/x-www-form-urlencoded":
                    form = parse_qs(body.decode("utf-8"))
                    q = form.get("query", [None])[0]
                    ds = self._dataset_params(form) or self._dataset_params(qs)
                else:
                    q = body.decode("utf-8")
                    ds = self._dataset_params(qs)
                if not q:
                    return self._error(400, "missing query")
                return self._run_query(store, q, ds)
            if op == "update":
                if ct == "application/x-www-form-urlencoded":
                    form = parse_qs(body.decode("utf-8"))
                    u = form.get("update", [None])[0]
                    ds = self._update_dataset_params(form) or self._update_dataset_params(qs)
                else:
                    u = body.decode("utf-8")
                    ds = self._update_dataset_params(qs)
                if not u:
                    return self._error(400, "missing update")
                try:
                    res = server.run_update(store, u, dataset=ds)
                    return self._send(200, "application/json", json.dumps(res))
                except RdfParseError as e:
                    return self._error(400, str(e))
            if op == "data":
                return self._gsp_write(store, body, ct, qs, replace=False)
            if op == "patch":
                return self._patch(store, body, ct)
            return self._error(404, "unknown endpoint")

        def do_PUT(self):
            store, op, qs = self._route()
            if store is None or op != "data":
                return self._error(404, "unknown endpoint")
            body = self._body()
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            return self._gsp_write(store, body, ct, qs, replace=True)

        def do_DELETE(self):
            store, op, qs = self._route()
            if store is None or op != "data":
                return self._error(404, "unknown endpoint")
            try:
                server.gsp_delete(store, self._graph_param(qs))
                return self._send(204, "text/plain", "")
            except Exception as e:
                return self._error(500, str(e))

        def do_PATCH(self):
            store, op, _ = self._route()
            if store is None or op != "patch":
                return self._error(404, "unknown endpoint")
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            return self._patch(store, self._body(), ct)

        # ---------------------------------------------------- helpers
        @staticmethod
        def _dataset_params(qs) -> tuple | None:
            """SPARQL 1.1 Protocol §2.1.4: repeatable default-graph-uri /
            named-graph-uri parameters; when present they OVERRIDE the
            query's FROM / FROM NAMED clauses."""
            d = qs.get("default-graph-uri", [])
            n = qs.get("named-graph-uri", [])
            return (d, n) if (d or n) else None

        @staticmethod
        def _update_dataset_params(qs) -> tuple | None:
            """SPARQL 1.1 Protocol §2.2.3: using-graph-uri /
            using-named-graph-uri scope an update's WHERE dataset; illegal
            alongside USING/WITH in the update text (engine rejects)."""
            d = qs.get("using-graph-uri", [])
            n = qs.get("using-named-graph-uri", [])
            return (d, n) if (d or n) else None

        def _run_query(self, store, q: str, dataset: tuple | None = None):
            try:
                content_type, chunks = server.run_query(
                    store, q, self.headers.get("Accept"), dataset=dataset
                )
                return self._send_stream(200, content_type, chunks)
            except RdfParseError as e:
                return self._error(400, str(e))

        def _gsp_write(self, store, body, ct, qs, replace: bool):
            try:
                n = server.gsp_write(store, body, ct or None, self._graph_param(qs), replace)
                return self._send(200, "application/json", json.dumps({"quads": n}))
            except RdfParseError as e:
                return self._error(400, str(e))

        def _patch(self, store, body, ct):
            try:
                na, nd = server.apply_patch(store, body, ct or None)
                return self._send(
                    200, "application/json", json.dumps({"adds": na, "deletes": nd})
                )
            except RdfParseError as e:
                return self._error(400, str(e))

    return Handler
