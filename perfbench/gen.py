"""Seeded inputs for the benchmark workloads, and the answers they must give.

Everything here is a pure function of the workload seed.  The program under
test only ever sees what these functions produce: a preload DataFrame of
quads, event files, and HTTP requests.

The preload is an entity dataset.  Entity ``e`` lives in one of ten named
graphs and carries five quads (type, name, integer value, knows-link, tagged
label).  Each field is drawn from an integer hash of ``(e, seed)``.  The hash
is written once for Python (:func:`mix`) and once as a Spark expression
(:meth:`Preload.spark_quads`), so the benchmark can answer any read from this
model without asking the store.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

N_GRAPHS = 10
N_CLASSES = 4
N_VALUES = 10_000
QUADS_PER_ENTITY = 5
# 42k entities x 5 quads = 210k quads: above the store's 200k-row small-store
# bound, so commits take the path a production-sized store takes
N_ENTITIES = 42_000
META_GRAPH = EX + "meta"
META_QUADS = 20
SCRATCH_GRAPH = EX + "scratch"
# scratch quads each serving client finds in the preload, so it has
# something to delete from its first request on
SCRATCH_CLIENTS = 2
SCRATCH_POOL = 8

_M32 = (1 << 32) - 1
_MULT = 2654435761  # Knuth's multiplicative hash constant


def salts(seed: int) -> dict[str, int]:
    rng = random.Random(seed)
    return {k: rng.randrange(1 << 30) for k in ("graph", "cls", "value", "knows", "tag")}


def mix(e: int, salt: int) -> int:
    return ((e + salt) * _MULT) & _M32


def graph_iri(g: int) -> str:
    return f"{EX}g{g}"


def entity_iri(e: int) -> str:
    return f"{EX}e{e}"


@dataclass
class Entity:
    e: int
    graph: int
    cls: int
    value: int
    knows: int
    tag: int


class Preload:
    """The preloaded dataset of one seed, with the answers to every read."""

    def __init__(self, seed: int, n_entities: int = N_ENTITIES):
        self.seed = seed
        self.n = n_entities
        self.salts = salts(seed)
        s = self.salts
        self.entities = [
            Entity(
                e,
                mix(e, s["graph"]) % N_GRAPHS,
                mix(e, s["cls"]) % N_CLASSES,
                mix(e, s["value"]) % N_VALUES,
                mix(e, s["knows"]) % n_entities,
                mix(e, s["tag"]) % 100,
            )
            for e in range(n_entities)
        ]

    @property
    def n_quads(self) -> int:
        return self.n * QUADS_PER_ENTITY + META_QUADS + SCRATCH_CLIENTS * SCRATCH_POOL

    def entity_quads(self, e: int) -> set[tuple]:
        """Quads of one entity as (graph, s, p, kind, value, datatype, lang)."""
        x = self.entities[e]
        g, s = graph_iri(x.graph), entity_iri(e)
        return {
            (g, s, RDF_TYPE, "iri", f"{EX}C{x.cls}", None, None),
            (g, s, EX + "name", "literal", f"entity {e}", None, None),
            (g, s, EX + "value", "literal", str(x.value), XSD_INTEGER, None),
            (g, s, EX + "knows", "iri", entity_iri(x.knows), None, None),
            (g, s, EX + "label", "literal", f"tag {x.tag}", None, "en"),
        }

    def meta_quads(self) -> set[tuple]:
        return {
            (META_GRAPH, EX + "dataset", f"{EX}m{i}", "literal", f"meta {self.seed} {i}", None, None)
            for i in range(META_QUADS)
        }

    @staticmethod
    def scratch_pool(client: int) -> list[tuple]:
        """(subject, predicate, object) of a client's preloaded scratch quads."""
        return [scratch_triple(client, n) for n in range(SCRATCH_POOL)]

    def spark_quads(self, spark):
        """The same dataset as a Spark DataFrame in the store's quad schema,
        computed on the executors (no rows travel from the driver)."""
        from pyspark.sql import functions as F

        s = self.salts

        def h(salt: int, mod: int):
            return (((F.col("id") + F.lit(salt)) * F.lit(_MULT)).bitwiseAND(F.lit(_M32))) % mod

        e = F.col("id").cast("string")
        graph = F.concat(F.lit(EX + "g"), h(s["graph"], N_GRAPHS).cast("string"))
        subject = F.concat(F.lit(EX + "e"), e)
        null = F.lit(None).cast("string")
        rows = [
            (F.lit(RDF_TYPE), F.lit("iri"), F.concat(F.lit(EX + "C"), h(s["cls"], N_CLASSES).cast("string")), null, null),
            (F.lit(EX + "name"), F.lit("literal"), F.concat(F.lit("entity "), e), null, null),
            (F.lit(EX + "value"), F.lit("literal"), h(s["value"], N_VALUES).cast("string"), F.lit(XSD_INTEGER), null),
            (F.lit(EX + "knows"), F.lit("iri"), F.concat(F.lit(EX + "e"), h(s["knows"], self.n).cast("string")), null, null),
            (F.lit(EX + "label"), F.lit("literal"), F.concat(F.lit("tag "), h(s["tag"], 100).cast("string")), null, F.lit("en")),
        ]
        quads = F.explode(
            F.array(
                *[
                    F.struct(
                        p.alias("predicate"), k.alias("object_kind"), v.alias("object_value"),
                        d.alias("object_datatype"), lang.alias("object_lang"),
                    )
                    for p, k, v, d, lang in rows
                ]
            )
        )
        ents = spark.range(self.n).select(graph.alias("graph"), subject.alias("subject"), quads.alias("q"))
        ents = ents.select("graph", "subject", "q.*")
        extra = sorted(self.meta_quads(), key=lambda q: q[2]) + [
            (SCRATCH_GRAPH, s_, p_, "literal", o_, None, None)
            for c in range(SCRATCH_CLIENTS)
            for s_, p_, o_ in self.scratch_pool(c)
        ]
        meta = spark.createDataFrame(
            extra,
            "graph string, subject string, predicate string, object_kind string, "
            "object_value string, object_datatype string, object_lang string",
        )
        return ents.unionByName(meta)


def nq_line(q: tuple) -> str:
    """One quad (graph, s, p, kind, value, datatype, lang) as an N-Quads line."""
    g, s, p, kind, v, dt, lang = q
    if kind == "iri":
        o = f"<{v}>"
    elif dt:
        o = f'"{v}"^^<{dt}>'
    elif lang:
        o = f'"{v}"@{lang}'
    else:
        o = f'"{v}"'
    return f"<{s}> <{p}> {o} <{g}> .\n" if g else f"<{s}> <{p}> {o} .\n"


def scratch_triple(client: int, n: int) -> tuple:
    return (f"{EX}w{client}-{n}", EX + "wp", f"w {client} {n}")


# -- trickle events -----------------------------------------------------------

TRICKLE_GRAPHS = 4


@dataclass
class TrickleEvent:
    offset: int
    due_s: float          # scheduled send time, seconds after the window opens
    content_type: str
    body: bytes
    kind: str             # "add" | "delete" | "bad"
    adds: list = field(default_factory=list)
    deletes: list = field(default_factory=list)


def _trickle_quad(n: int, i: int) -> tuple:
    g = f"{EX}trickle/g{n % TRICKLE_GRAPHS}"
    return (g, f"{EX}t{n}", f"{EX}tp{i}", "literal", f"trickle {n} {i}", None, None)


def _nq(q: tuple) -> str:
    g, s, p, _kind, v, _dt, _lang = q
    return f'<{s}> <{p}> "{v}" <{g}> .\n'


class TrickleModel:
    """Open-loop event schedule and the store state it must produce.

    The schedule is a Poisson process conditioned on its event count: arrival
    times are sorted uniform draws over the window, so every seed offers the
    same load and only the timing differs.  80% of events add 1-3 quads,
    15% are RDF Patch deletes of one earlier trickle quad that is still
    live, 5% are malformed N-Quads that must reach the dead-letter table.
    """

    def __init__(self, seed: int, start_offset: int = 0):
        self.rng = random.Random(seed * 7919 + 1)
        self.next_offset = start_offset
        self.live: dict[tuple, None] = {}   # insertion-ordered live trickle quads
        self.n_bad = 0

    def schedule(self, n_events: int, window_s: float) -> list[TrickleEvent]:
        """``n_events`` events over ``window_s`` seconds.  The mix is exact
        per schedule (5% malformed, 15% deletes, the rest adds, in seeded
        order), so runs differ in timing and content, not in composition."""
        times = sorted(self.rng.uniform(0, window_s) for _ in range(n_events))
        n_bad, n_del = max(1, round(0.05 * n_events)), max(1, round(0.15 * n_events))
        kinds = ["bad"] * n_bad + ["delete"] * n_del + ["add"] * (n_events - n_bad - n_del)
        self.rng.shuffle(kinds)
        if not self.live and "add" in kinds:
            # a delete needs an earlier live quad: open with an add
            first_add = kinds.index("add")
            kinds[0], kinds[first_add] = kinds[first_add], kinds[0]
        return [self._event(t, k) for t, k in zip(times, kinds)]

    def _event(self, due: float, kind: str) -> TrickleEvent:
        off = self.next_offset
        self.next_offset += 1
        if kind == "bad":
            self.n_bad += 1
            body = f"<{EX}t{off}> <{EX}tp0> \"unterminated .\n".encode()
            return TrickleEvent(off, due, "application/n-quads", body, "bad")
        if kind == "delete" and self.live:
            # an older quad, from the first half of what is live
            victim = self.rng.choice(list(self.live)[: max(1, len(self.live) // 2)])
            del self.live[victim]
            body = ("TX .\nD " + _nq(victim) + "TC .\n").encode()
            return TrickleEvent(off, due, "application/rdf-patch", body, "delete", deletes=[victim])
        quads = [_trickle_quad(off, i) for i in range(self.rng.randint(1, 3))]
        for q in quads:
            self.live[q] = None
        body = "".join(_nq(q) for q in quads).encode()
        return TrickleEvent(off, due, "application/n-quads", body, "add", adds=quads)


# -- serving mix --------------------------------------------------------------

READ_KINDS = ("point", "join", "group", "ask", "construct", "gsp_get")
WRITE_KINDS = ("insert", "delete", "patch", "gsp_post")
# one block = 6 reads + 2 writes (75% / 25%); writes alternate between the
# (insert, delete) and (patch, gsp_post) pairs from block to block
BLOCK_READS = READ_KINDS
BLOCK_WRITES = (("insert", "delete"), ("patch", "gsp_post"))
BLOCK_LEN = len(BLOCK_READS) + 2


def client_kinds(seed: int, client: int, n_blocks: int) -> list[str]:
    rng = random.Random(seed * 104729 + client)
    kinds: list[str] = []
    for b in range(n_blocks):
        block = list(BLOCK_READS) + list(BLOCK_WRITES[(b + client) % 2])
        rng.shuffle(block)
        kinds.extend(block)
    return kinds
