"""SPARQL 1.1 Update + Graph Store Protocol over the QuadStore.

The reference serves these via Fuseki HTTP endpoints (fuseki:update and
fuseki:gsp-rw wired in config-connector.ttl:14-17) while deliberately
rejecting updates over the Kafka stream (CHANGELOG.md:177-181 — effects
would depend on receiver state).  We keep that split: this module is the
HTTP-side mutation surface, applied directly to the store in one commit per
update request; the Kafka/streaming path accepts only data + patches.

Supported update forms:
  INSERT DATA { quads }         DELETE DATA { quads }
  DELETE WHERE { pattern }
  [WITH <g>] DELETE { tmpl } INSERT { tmpl } [USING [NAMED] <g>]* WHERE { pattern }
  CLEAR GRAPH <g> | DEFAULT | NAMED | ALL             DROP = CLEAR
  LOAD [SILENT] <doc-iri> [INTO GRAPH <g>]   (file:// or http(s)://; syntax
    by extension: .nt .nq .ttl .trig .jsonld .rdf)
  CREATE [SILENT] GRAPH <g>   (no-op: a quad set has no empty graphs, same
    as Fuseki TDB)
  ADD | COPY | MOVE [SILENT] (DEFAULT | [GRAPH] <g>) TO (DEFAULT | [GRAPH] <g>)
  multiple operations separated by ';' apply atomically (one commit) with
  SPARQL 1.1 sequential semantics: each operation evaluates against the
  accumulated logical state (store minus pending deletes plus pending
  adds), so 'INSERT DATA { q }; DELETE DATA { q }' leaves q absent and a
  DELETE WHERE sees quads inserted earlier in the same request

Graph Store Protocol (get/put/post/delete on a graph) maps to
filter/overwrite/append/delete on the graph column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpointing import stable_checkpoint
from ..model import DEFAULT_GRAPH, QUAD_COLS, RdfParseError
from ..store import QuadStore, local_quads
from ..store.quadstore import _anti_join_quads
from .ast import BGP
from .parser import SparqlParser
from .translate import Translator


class _UpdateParser(SparqlParser):
    """Extends the query parser with update-request grammar."""

    def parse_update(self) -> list[tuple]:
        ops: list[tuple] = []
        while self.peek_kw("prefix") or self.peek_kw("base"):
            kw = self.next().lower()
            if kw == "prefix":
                pname = self.next()
                self.prefixes[pname[:-1]] = self._iri_value(self.next())
            else:
                self.base = self._iri_value(self.next())
        while self.peek() is not None:
            t = self.peek().lower()
            if t == "with":
                # Modify ::= ('WITH' iri)? (DeleteClause InsertClause? |
                # InsertClause) UsingClause* 'WHERE' GGP  (SPARQL 1.1 Update
                # grammar [41]); WITH scopes both templates and pattern.
                self.next()
                wg = self._var_or_iri()
                if wg[0] != "iri":
                    raise RdfParseError("WITH requires an IRI")
                nxt = (self.peek() or "").lower()
                if nxt == "insert":
                    self.next()
                    ops.append(self._modify(None, with_graph=wg[1]))
                elif nxt == "delete":
                    self.next()
                    if self.peek_kw("where"):
                        raise RdfParseError("WITH cannot precede DELETE WHERE")
                    ops.append(self._modify(self._quad_template(), with_graph=wg[1]))
                else:
                    raise RdfParseError("WITH must precede DELETE/INSERT ... WHERE")
            elif t == "insert":
                self.next()
                if self.peek_kw("data"):
                    self.next()
                    ops.append(("insert_data", self._quad_data()))
                else:
                    ops.append(self._modify(None))
            elif t == "delete":
                self.next()
                if self.peek_kw("data"):
                    self.next()
                    data = self._quad_data()
                    for s, p, o, g in data:
                        if s[0] == "var" or p[0] == "var" or o[0] == "var":
                            raise RdfParseError("DELETE DATA cannot contain variables")
                    ops.append(("delete_data", data))
                elif self.peek_kw("where"):
                    self.next()
                    pattern = self._group_graph_pattern()
                    quads = _quad_pattern_quads(pattern)
                    if quads is None:
                        raise RdfParseError(
                            "DELETE WHERE requires a quad pattern "
                            "(triples and GRAPH groups only)"
                        )
                    ops.append(("modify", quads, None, pattern, None, (), ()))
                else:
                    ops.append(self._modify(self._quad_template()))
            elif t == "load":
                self.next()
                silent = False
                if self.peek_kw("silent"):
                    self.next()
                    silent = True
                src = self._var_or_iri()
                if src[0] != "iri":
                    raise RdfParseError("LOAD requires a document IRI")
                into = None
                if self.peek_kw("into"):
                    self.next()
                    self.expect("graph")
                    g = self._var_or_iri()
                    if g[0] != "iri":
                        raise RdfParseError("LOAD INTO GRAPH requires an IRI")
                    into = g[1]
                ops.append(("load", silent, src[1], into))
            elif t == "create":
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                self.expect("graph")
                g = self._var_or_iri()
                if g[0] != "iri":
                    raise RdfParseError("CREATE GRAPH requires an IRI")
                ops.append(("create", g[1]))
            elif t in ("add", "copy", "move"):
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                src = self._graph_or_default()
                self.expect("to")
                dst = self._graph_or_default()
                ops.append((t, src, dst))
            elif t in ("clear", "drop"):
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                target = self.next().lower()
                if target == "graph":
                    g = self._var_or_iri()
                    if g[0] != "iri":
                        raise RdfParseError("CLEAR GRAPH requires an IRI")
                    ops.append(("clear", g[1]))
                elif target in ("default", "named", "all"):
                    ops.append(("clear", target))
                else:
                    raise RdfParseError(f"bad CLEAR target {target!r}")
            elif t == ";":
                self.next()
            else:
                raise RdfParseError(f"unsupported update operation {t!r}")
        return ops

    def _modify(self, del_tmpl, with_graph: str | None = None) -> tuple:
        """Parse the rest of a Modify op: [INSERT {tmpl}] USING* WHERE GGP.

        Called with ``del_tmpl`` already parsed (None when the op started
        with INSERT).  Returns the 7-tuple modify op: (kind, del_tmpl,
        ins_tmpl, pattern, with_graph, using, using_named).
        """
        ins_tmpl = None
        if del_tmpl is None:
            ins_tmpl = self._quad_template()
        elif self.peek_kw("insert"):
            self.next()
            ins_tmpl = self._quad_template()
        using: list[str] = []
        using_named: list[str] = []
        while self.peek_kw("using"):
            self.next()
            named = False
            if self.peek_kw("named"):
                self.next()
                named = True
            g = self._var_or_iri()
            if g[0] != "iri":
                raise RdfParseError("USING requires an IRI")
            (using_named if named else using).append(g[1])
        self.expect("where")
        pattern = self._group_graph_pattern()
        return (
            "modify", del_tmpl, ins_tmpl, pattern,
            with_graph, tuple(using), tuple(using_named),
        )

    def _graph_or_default(self):
        """GraphOrDefault ::= 'DEFAULT' | 'GRAPH'? iri — returns None for
        the default graph, else the graph IRI string."""
        if self.peek_kw("default"):
            self.next()
            return None
        if self.peek_kw("graph"):
            self.next()
        g = self._var_or_iri()
        if g[0] != "iri":
            raise RdfParseError("ADD/COPY/MOVE requires DEFAULT or a graph IRI")
        return g[1]

    def _quad_data(self) -> list:
        return self._quad_template()

    def _quad_template(self) -> list:
        """{ triples... GRAPH <g> { triples... } ... }"""
        self.expect("{")
        out: list = []
        while self.peek() != "}":
            if self.peek_kw("graph"):
                self.next()
                g = self._var_or_iri()
                self.expect("{")
                while self.peek() != "}":
                    out.extend((s, p, o, g) for s, p, o, _ in self._triples_same_subject(None))
                    if self.peek() == ".":
                        self.next()
                self.expect("}")
            else:
                out.extend(self._triples_same_subject(None))
                if self.peek() == ".":
                    self.next()
        self.expect("}")
        return out


def _quad_pattern_quads(pattern):
    """Flatten a DELETE WHERE group into its quad list, or None.

    SPARQL 1.1 Update §3.1.3.3: the DELETE WHERE shorthand takes a
    QuadPattern — plain triples plus GRAPH groups (the graph may be a
    variable, which then binds per matched quad) — and the SAME pattern
    doubles as both the WHERE clause and the delete template.  Any other
    operator in the group (FILTER, OPTIONAL, UNION, subselect) means it
    is not a QuadPattern and the shorthand does not apply."""
    from .ast import GraphPattern, Join

    if isinstance(pattern, BGP):
        return list(pattern.triples)
    if isinstance(pattern, GraphPattern):
        inner = _quad_pattern_quads(pattern.pattern)
        if inner is None or any(g is not None for _, _, _, g in inner):
            return None
        return [(s, p, o, pattern.graph) for s, p, o, _ in inner]
    if isinstance(pattern, Join):
        left = _quad_pattern_quads(pattern.left)
        right = _quad_pattern_quads(pattern.right)
        if left is None or right is None:
            return None
        return left + right
    return None


def _filter_expr_bounds(expr) -> bool:
    """Does a FILTER expression bound the binding set to request size?

    Only constant equality / IN over a variable genuinely pins a variable
    to a request-enumerable set:  ``FILTER(?o = "x")``, ``FILTER(?p IN
    (<a>, <b>))``.  Anything else — inequality, regex, arithmetic,
    ``?o != "x"`` — still admits a store-sized result and must NOT grant
    the broadcast hint.  AND bounds if either side bounds (conjunction
    narrows); OR bounds only if both sides bound (union of bounded sets).
    """
    from .ast import Iri, Lit, Op, Var

    if isinstance(expr, Op):
        if expr.op == "&&":
            return any(_filter_expr_bounds(a) for a in expr.args)
        if expr.op == "||":
            return all(_filter_expr_bounds(a) for a in expr.args)
        if expr.op in ("=", "in") and len(expr.args) >= 2:
            lhs, rest = expr.args[0], expr.args[1:]
            def is_const(e):
                vals = e if isinstance(e, (list, tuple)) else [e]
                return all(isinstance(v, (Lit, Iri)) for v in vals)
            if isinstance(lhs, Var) and all(is_const(r) for r in rest):
                return True
            if expr.op == "=" and isinstance(expr.args[1], Var) and is_const(lhs):
                return True
    return False


def _pattern_is_constrained(pattern) -> bool:
    """Heuristic: is a Modify/DELETE WHERE pattern's binding set bounded by
    the request (constants narrow it) rather than store-sized?

    ``DELETE WHERE { ?s ?p ?o }`` (and the GRAPH ?g / FILTER variants)
    binds every quad in the store — broadcasting quads built from those
    bindings is a driver/executor OOM at scale, so the caller must route
    them through a shuffle join instead.  A constant term in a triple
    pattern, a constant-equality/IN FILTER, VALUES, or a sub-select
    narrows the result enough to call it request-sized.  FILTER and MINUS
    recurse into the pattern they wrap (a filter expression alone does not
    guarantee a request-sized binding set — ``FILTER(?o != "x")`` is
    store-sized), and a constant GRAPH term with an unconstrained body is
    a whole-graph delete (same as DROP / GSP DELETE, which always ride the
    shuffle path).  Unknown node types default to unconstrained (the safe
    join strategy).
    """
    from .ast import (
        BGP, Extend, Filter, GraphPattern, Join, LeftJoin, Minus, SubSelect,
        Union, ValuesPattern,
    )

    if isinstance(pattern, BGP):
        return any(
            t is not None and t[0] != "var"
            for (s, p, o, g) in pattern.triples
            for t in (s, p, o, g)
        )
    if isinstance(pattern, GraphPattern):
        # a constant graph alone bounds nothing: GRAPH <g> { ?s ?p ?o } is
        # the whole named graph — store-sized, exactly like DROP GRAPH
        return _pattern_is_constrained(pattern.pattern)
    if isinstance(pattern, Join):
        # a join narrows to the more selective side
        return _pattern_is_constrained(pattern.left) or _pattern_is_constrained(
            pattern.right
        )
    if isinstance(pattern, LeftJoin):
        return _pattern_is_constrained(pattern.left)  # OPTIONAL never narrows
    if isinstance(pattern, Union):
        return _pattern_is_constrained(pattern.left) and _pattern_is_constrained(
            pattern.right
        )
    if isinstance(pattern, Filter):
        return _filter_expr_bounds(pattern.expr) or _pattern_is_constrained(
            pattern.pattern
        )
    if isinstance(pattern, Minus):
        return _pattern_is_constrained(pattern.left)  # MINUS never narrows to bounded
    if isinstance(pattern, Extend):
        return _pattern_is_constrained(pattern.pattern)  # BIND never narrows
    if isinstance(pattern, (ValuesPattern, SubSelect)):
        return True
    return False


class UpdateEngine:
    def __init__(self, spark: SparkSession, store: QuadStore):
        self.spark = spark
        self.store = store
        # strategy chosen for the most recent update()'s final commit —
        # exposed for tests/observability of the broadcast gate
        self.last_commit_broadcast: dict[str, bool] = {"adds": True, "deletes": True}

    # ------------------------------------------------------------ update
    def update(
        self,
        text: str,
        txn_id: str | None = None,
        protocol_dataset: tuple | None = None,
    ) -> dict:
        """Apply a SPARQL Update request atomically (one store commit),
        sequentially within the request: every operation evaluates against
        ``base MINUS pending_deletes UNION pending_adds``.  The pending
        sets are net-effect maintained (inserting a quad removes it from
        pending deletes and vice versa), so no quad ever lands in both and
        the final commit's delete-then-add application is order-safe.

        ``protocol_dataset`` = (using_iris, using_named_iris) carries the
        SPARQL 1.1 Protocol ``using-graph-uri``/``using-named-graph-uri``
        parameters; per Protocol §2.2.3 it is an ERROR to combine them
        with an operation that has its own USING/WITH clause."""
        ops = _UpdateParser(text).parse_update()
        if protocol_dataset is not None:
            for op in ops:
                if op[0] == "modify" and (op[4] is not None or op[5] or op[6]):
                    raise RdfParseError(
                        "using-graph-uri parameters cannot be combined with "
                        "an update containing USING or WITH (SPARQL 1.1 "
                        "Protocol §2.2.3)"
                    )
        base = self.store.read(self.spark)
        pending_adds: DataFrame | None = None
        pending_dels: DataFrame | None = None
        # broadcast gate: True while every contribution to the pending set
        # is request-sized (constants, loaded documents, constrained
        # patterns).  CLEAR/DROP, whole-graph ADD/COPY/MOVE, and
        # unconstrained DELETE WHERE flip the flag — those sets are
        # store-sized and must ride shuffle joins, never a broadcast.
        adds_bounded = True
        dels_bounded = True
        load_index = 0  # per-request LOAD sequence number (bnode freshness)

        def view() -> DataFrame:
            v = base
            if pending_dels is not None:
                v = _anti_join_quads(v, pending_dels, broadcast_right=dels_bounded)
            if pending_adds is not None:
                v = v.unionByName(pending_adds).dropDuplicates(QUAD_COLS)
            return v

        def do_insert(df: DataFrame, bounded: bool = True) -> None:
            nonlocal pending_adds, pending_dels, adds_bounded
            df = df.select(*QUAD_COLS)
            if pending_dels is not None:
                pending_dels = _anti_join_quads(pending_dels, df, broadcast_right=bounded)
            adds_bounded = adds_bounded and bounded
            pending_adds = (
                df
                if pending_adds is None
                else pending_adds.unionByName(df).dropDuplicates(QUAD_COLS)
            )

        def do_delete(df: DataFrame, bounded: bool = True) -> None:
            nonlocal pending_adds, pending_dels, dels_bounded
            df = df.select(*QUAD_COLS)
            if pending_adds is not None:
                pending_adds = _anti_join_quads(pending_adds, df, broadcast_right=bounded)
            dels_bounded = dels_bounded and bounded
            pending_dels = (
                df
                if pending_dels is None
                else pending_dels.unionByName(df).dropDuplicates(QUAD_COLS)
            )

        import hashlib
        import uuid as _uuid

        # per-operation bnode-freshness seed: deterministic under txn_id
        # (crash-replay re-derives the same labels; idempotent commit
        # no-ops), random otherwise (plain per-execution freshness)
        req_seed = txn_id if txn_id is not None else _uuid.uuid4().hex

        def _op_suffix(op_index: int) -> str:
            return hashlib.md5(f"{req_seed}|op{op_index}".encode()).hexdigest()[:12]

        def _has_bnode(tmpl) -> bool:
            return any(
                t is not None and t[0] == "bnode"
                for quad in tmpl
                for t in quad
            )

        for op_index, op in enumerate(ops):
            kind = op[0]
            if kind == "insert_data":
                do_insert(self._const_quads(op[1], bnode_suffix=_op_suffix(op_index)))
            elif kind == "delete_data":
                if _has_bnode(op[1]):
                    # SPARQL 1.1 Update §3.1.2: bnodes are disallowed in
                    # DELETE DATA (they could never denote a stored node)
                    raise RdfParseError("DELETE DATA must not contain blank nodes")
                do_delete(self._const_quads(op[1]))
            elif kind == "clear":
                target = op[1]
                if target == "default":
                    cond = F.col("graph") == DEFAULT_GRAPH
                elif target == "named":
                    cond = F.col("graph") != DEFAULT_GRAPH
                elif target == "all":
                    cond = F.lit(True)
                else:
                    cond = F.col("graph") == target
                do_delete(view().filter(cond), bounded=False)
            elif kind == "load":
                silent, src, into = op[1], op[2], op[3]
                load_index += 1
                try:
                    quads = self._load_document(
                        src, into, txn_id=txn_id, load_index=load_index
                    )
                except Exception:
                    if silent:
                        continue
                    raise
                do_insert(quads)
            elif kind == "create":
                pass  # a quad set has no empty graphs (same as Fuseki TDB)
            elif kind in ("add", "copy", "move"):
                src, dst = op[1], op[2]
                if src == dst:
                    continue  # spec: same graph is a no-op for all three
                src_g = DEFAULT_GRAPH if src is None else src
                dst_g = DEFAULT_GRAPH if dst is None else dst
                # build the source selection against the pre-op state BEFORE
                # mutating pending sets (DataFrames capture the plan now)
                moved = (
                    view()
                    .filter(F.col("graph") == src_g)
                    .withColumn("graph", F.lit(dst_g))
                )
                if kind in ("copy", "move"):
                    do_delete(view().filter(F.col("graph") == dst_g), bounded=False)
                if kind == "move":
                    do_delete(view().filter(F.col("graph") == src_g), bounded=False)
                do_insert(moved, bounded=False)
            elif kind == "modify":
                del_tmpl, ins_tmpl, pattern = op[1], op[2], op[3]
                with_graph, using, using_named = op[4], op[5], op[6]
                if protocol_dataset is not None:
                    using, using_named = protocol_dataset
                # WITH scopes unqualified template quads and (absent USING)
                # the WHERE pattern's default graph (SPARQL 1.1 Update §3.1.3)
                if with_graph is not None:
                    wg = ("iri", with_graph)
                    if del_tmpl:
                        del_tmpl = [(s, p, o, g or wg) for s, p, o, g in del_tmpl]
                    if ins_tmpl:
                        ins_tmpl = [(s, p, o, g or wg) for s, p, o, g in ins_tmpl]
                dataset = view()
                graph_arg = None
                if using or using_named:
                    # USING builds the pattern's dataset: default graph :=
                    # union of USING graphs (relabeled), named graphs :=
                    # the USING NAMED set.  WITH is ignored for the pattern.
                    parts = []
                    if using:
                        parts.append(
                            dataset.filter(F.col("graph").isin(*using))
                            .withColumn("graph", F.lit(DEFAULT_GRAPH))
                        )
                    if using_named:
                        parts.append(dataset.filter(F.col("graph").isin(*using_named)))
                    dataset = parts[0]
                    for extra in parts[1:]:
                        dataset = dataset.unionByName(extra)
                elif with_graph is not None:
                    graph_arg = ("iri", with_graph)
                # translate the WHERE pattern once against the accumulated
                # state, instantiate both templates from the same bindings
                translator = Translator(dataset)
                df = translator._pattern(translator._rewrite_exists(pattern), graph=graph_arg)
                # materialize the (request-sized) bindings once: both
                # templates instantiate from it, and later ops' anti-joins
                # would otherwise re-evaluate the whole pattern lineage
                if del_tmpl and ins_tmpl:
                    df = stable_checkpoint(df, eager=True)
                bounded = _pattern_is_constrained(pattern)
                if del_tmpl:
                    if _has_bnode(del_tmpl):
                        # §3.1.3: DELETE templates must not contain bnodes
                        raise RdfParseError(
                            "DELETE template must not contain blank nodes"
                        )
                    do_delete(self._instantiate(df, del_tmpl), bounded=bounded)
                if ins_tmpl:
                    do_insert(
                        self._instantiate(
                            df, ins_tmpl, bnode_suffix=_op_suffix(op_index)
                        ),
                        bounded=bounded,
                    )
        self.last_commit_broadcast = {"adds": adds_bounded, "deletes": dels_bounded}
        version = self.store.commit(
            self.spark,
            adds=pending_adds,
            deletes=pending_dels,
            txn_id=txn_id,
            broadcast_adds=adds_bounded,
            broadcast_deletes=dels_bounded,
        )
        return {"version": version}

    _LOAD_SUFFIXES = {
        ".nt": "application/n-triples",
        ".nq": "application/n-quads",
        ".ttl": "text/turtle",
        ".trig": "application/trig",
        ".jsonld": "application/ld+json",
        ".json": "application/ld+json",
        ".rdf": "application/rdf+xml",
        ".xml": "application/rdf+xml",
    }

    def _load_document(
        self,
        iri: str,
        into: str | None,
        txn_id: str | None = None,
        load_index: int = 0,
    ) -> DataFrame:
        """LOAD <iri> [INTO GRAPH <g>]: fetch + parse an RDF document.

        file:// and http(s):// IRIs; syntax chosen by file extension
        (NQuads default, matching the package's Kafka-payload default).
        With INTO GRAPH, every parsed quad lands in the target graph
        (Fuseki pours the document into the single target graph).
        """
        import urllib.request
        from urllib.parse import urlparse

        from ..rdf.content_types import parse_payload

        parsed = urlparse(iri)
        if parsed.scheme == "file":
            with open(parsed.path, "rb") as f:
                payload = f.read()
        elif parsed.scheme in ("http", "https"):
            with urllib.request.urlopen(iri, timeout=60) as resp:
                payload = resp.read()
        else:
            raise RdfParseError(f"LOAD: unsupported IRI scheme {parsed.scheme!r}")
        path = parsed.path.lower()
        ct = next(
            (v for k, v in self._LOAD_SUFFIXES.items() if path.endswith(k)),
            "application/n-quads",
        )
        import hashlib
        import uuid

        # SPARQL/Jena semantics mint fresh bnodes per LOAD execution (a
        # re-LOAD doubles bnode-rooted structures), so the label seed must
        # differ across requests AND across repeated LOADs of the same IRI
        # within one request ("LOAD <d>; LOAD <d>" must not collapse under
        # set semantics — hence the per-request load_index in the seed).
        # Mixing in the request txn_id keeps crash-replay deterministic: a
        # replayed request re-derives the SAME labels, and the commit's
        # idempotent txn_id makes the re-apply a no-op.  Without a txn_id
        # there is no replay contract, so a random seed gives plain
        # per-execution freshness.
        seed = f"{iri}|{txn_id if txn_id is not None else uuid.uuid4()}|{load_index}"
        suffix = hashlib.md5(seed.encode("utf-8")).hexdigest()[:12]
        ops = parse_payload(payload, ct, bnode_suffix=f"load{suffix}")
        rows = [
            (into if into is not None else g, s, p, ok, ov, dt, lang)
            for _op, g, s, p, ok, ov, dt, lang in ops
        ]
        return local_quads(self.spark, rows)

    def _const_quads(self, quads: list, bnode_suffix: str | None = None) -> DataFrame:
        """Constant quads from INSERT DATA / DELETE DATA templates.

        ``bnode_suffix`` (INSERT DATA only) makes bnode labels fresh per
        operation execution — SPARQL 1.1 Update §3.1.1: re-running
        ``INSERT DATA { ex:a ex:p [] }`` adds a NEW bnode each time, so a
        shared label must not collapse under set semantics.  Like LOAD,
        the suffix derives from (txn_id, op index): crash-replay of the
        same request re-derives the same labels and the idempotent commit
        drops the re-apply."""

        def fresh(term):
            if bnode_suffix is not None and term[0] == "bnode":
                return f"{term[1]}-{bnode_suffix}"
            return term[1]

        rows = []
        for s, p, o, g in quads:
            graph = g[1] if g is not None else DEFAULT_GRAPH
            if o[0] == "literal":
                rows.append((graph, fresh(s), p[1], "literal", o[1], o[2], o[3]))
            else:
                rows.append((graph, fresh(s), p[1], o[0], fresh(o), None, None))
        return local_quads(self.spark, rows)

    def _instantiate(
        self, bindings: DataFrame, template: list, bnode_suffix: str | None = None
    ) -> DataFrame:
        """Project pattern bindings through a quad template (CONSTRUCT-style).

        A bnode label in an INSERT template mints a fresh bnode PER
        SOLUTION (SPARQL 1.1 Update §3.1.3): the label is salted with the
        operation's ``bnode_suffix`` and a hash of the solution's bindings,
        so the same solution keeps ONE bnode across all template quads
        while different solutions get distinct ones.  (Two identical
        solution rows collapse to one bnode — a documented simplification
        that keeps labels deterministic for crash-replay.)"""
        from functools import reduce

        # variable-free WHERE yields a zero-column bindings frame; xxhash64
        # with no args is an analysis error — every solution is then the
        # same (empty) solution, so a constant hash is exactly right
        sol_hash = (
            F.lower(F.hex(F.xxhash64(*[bindings[c] for c in bindings.columns])))
            if bindings.columns
            else F.lit("0")
        )
        parts = []
        for s, p, o, g in template:
            def tcol(t, role):
                if t[0] == "var":
                    c = bindings[t[1]]
                    return c["value"] if role != "object" else c
                if t[0] == "bnode" and bnode_suffix is not None:
                    label = F.concat(
                        F.lit(f"{t[1]}-{bnode_suffix}-"), sol_hash
                    )
                    if role == "object":
                        return F.struct(
                            F.lit("bnode").alias("kind"),
                            label.alias("value"),
                            F.lit("").alias("datatype"),
                            F.lit("").alias("lang"),
                        )
                    return label
                if role == "object" and t[0] == "literal":
                    return F.struct(
                        F.lit("literal").alias("kind"),
                        F.lit(t[1]).alias("value"),
                        F.lit(t[2] or "").alias("datatype"),
                        F.lit(t[3] or "").alias("lang"),
                    )
                if role == "object":
                    return F.struct(
                        F.lit(t[0]).alias("kind"),
                        F.lit(t[1]).alias("value"),
                        F.lit("").alias("datatype"),
                        F.lit("").alias("lang"),
                    )
                return F.lit(t[1])

            obj = tcol(o, "object")
            parts.append(
                bindings.select(
                    (tcol(g, "graph") if g is not None else F.lit(DEFAULT_GRAPH)).alias("graph"),
                    tcol(s, "subject").alias("subject"),
                    tcol(p, "predicate").alias("predicate"),
                    obj["kind"].alias("object_kind"),
                    obj["value"].alias("object_value"),
                    F.when(obj["datatype"] == "", None).otherwise(obj["datatype"]).alias("object_datatype"),
                    F.when(obj["lang"] == "", None).otherwise(obj["lang"]).alias("object_lang"),
                )
            )
        return reduce(lambda a, b: a.unionByName(b), parts).dropDuplicates()

    # ------------------------------------------------------------ GSP
    def gsp_get(self, graph: str | None = None) -> DataFrame:
        """GET a graph (None = default graph)."""
        g = DEFAULT_GRAPH if graph is None else graph
        return self.store.read(self.spark).filter(F.col("graph") == g)

    def gsp_put(self, quads: DataFrame, graph: str | None = None, txn_id=None) -> int:
        """PUT: replace the graph's contents."""
        g = DEFAULT_GRAPH if graph is None else graph
        current = self.store.read(self.spark).filter(F.col("graph") == g)
        incoming = quads.select(*QUAD_COLS).withColumn("graph", F.lit(g))
        # the replaced graph is store-sized; never broadcast it
        return self.store.commit(
            self.spark, adds=incoming, deletes=current, txn_id=txn_id,
            broadcast_deletes=False,
        )

    def gsp_post(self, quads: DataFrame, graph: str | None = None, txn_id=None) -> int:
        """POST: merge (append with set semantics)."""
        g = DEFAULT_GRAPH if graph is None else graph
        incoming = quads.select(*QUAD_COLS).withColumn("graph", F.lit(g))
        return self.store.commit(self.spark, adds=incoming, txn_id=txn_id)

    def gsp_delete(self, graph: str | None = None, txn_id=None) -> int:
        """DELETE: drop the graph's contents."""
        g = DEFAULT_GRAPH if graph is None else graph
        current = self.store.read(self.spark).filter(F.col("graph") == g)
        return self.store.commit(
            self.spark, deletes=current, txn_id=txn_id, broadcast_deletes=False
        )
