"""Deduplication operators over ``documents``: exact, MinHash+LSH, SimHash,
n-gram Jaccard.  These are the training-data-pipeline dedup primitives; each
is implemented Spark-first (explode -> hash-aggregate -> bucket-join; no
Python UDFs) with a DuckDB oracle computing the *identical deterministic
algorithm* (md5-derived 60-bit hashes verified byte-equal across engines).

Scale notes:
- MinHash/LSH is the 100 TB path: candidate generation is a bucket
  equi-join on (band_id, band_hash) — shuffle proportional to docs x bands,
  never all-pairs.  Verification joins only candidate pairs to shingle sets.
- SimHash candidate generation uses the multi-rotation table scheme
  (Manku et al., WWW'07): 4 tables keyed on the top 16 bits of the
  fingerprint rotated by 0/8/16/24 — every table key has 2^16 possible
  values, so expected block size is n/65536 *per table* and the candidate
  join is a bounded equi-join, never all-pairs within one coarse prefix.
- n-gram Jaccard blocks on (lang, length-bucket) with a hard block-size
  cap: small blocks get exhaustive all-pairs (provably <= cap^2 per
  block); over-cap blocks route through the MinHash band-bucket candidate
  path (linear in docs) restricted to same-block candidates, then rejoin
  the shared exact verify stage — no document is silently dropped.
- Exact dedup is one hash aggregate on a normalized content hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..checkpointing import stable_checkpoint
from . import (
    canon_text_spark,
    canon_text_sql,
    fan_out,
    grams_expr,
    load,
    lower_markstrip_spark,
    lower_markstrip_sql,
    query,
    ws_words_spark,
    ws_words_sql,
)

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.4
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6


# ---------------------------------------------------------------- helpers
def _hash60_spark(col):
    """60-bit deterministic hash, byte-identical to the DuckDB formula."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def _hash60_sql(expr: str) -> str:
    return f"('0x'||substr(md5({expr}),1,15))::BIGINT"


def _shingles_spark(d):
    """doc_id -> exploded distinct 3-word shingles (JVM-side arrays).
    Words are materialized once per row; the shingle build is a single
    transform over index positions (no repeated splits)."""
    words = ws_words_spark(F.col("text"))
    with_words = fan_out(d.select("doc_id", F.col("text"))).select(
        "doc_id", words.alias("w")
    )
    sh = F.expr(grams_expr(3, "concat(w[i-1], ' ', w[i], ' ', w[i+1])"))
    return (
        with_words.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, {ws_words_sql('text')} AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i)
"""


# ---------------------------------------------------------------- d01 exact
@query(
    "d01_exact_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5({canon_text_sql("text")}) AS h
      FROM documents
    ),
    groups AS (
      SELECT h, COUNT(*) AS group_size, MIN(doc_id) AS keeper_doc_id
      FROM hashed GROUP BY h
    )
    SELECT COUNT(*) AS n_unique,
           CAST(SUM(group_size) AS BIGINT) AS n_docs,
           CAST(SUM(group_size) - COUNT(*) AS BIGINT) AS n_duplicates,
           CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(MAX(group_size) AS BIGINT) AS max_group_size,
           CAST(SUM(CASE WHEN group_size > 1 THEN keeper_doc_id ELSE 0 END)
                AS BIGINT) AS dup_keeper_checksum
    FROM groups
    """,
)
def d01(spark, sf_dir):
    """Exact dedup: normalized content hash -> group -> keep min doc_id.
    One hash aggregate; at scale this is the cheapest dedup pass and runs
    first in any pipeline.

    The fingerprint is the shared canonical form (queries.canon_text_*:
    lower + \\p{Mn} strip + explicit-ASCII-class edge strip/collapse) —
    the hand-rolled trim()+\\s+ lower it replaces diverged across engines
    on U+2009/NBSP-class whitespace and U+0130-class case folds."""
    d = load(spark, sf_dir, "documents")
    h = F.md5(canon_text_spark(F.col("text")).cast("binary"))
    groups = d.select("doc_id", h.alias("h")).groupBy("h").agg(
        F.count("*").alias("group_size"), F.min("doc_id").alias("keeper_doc_id")
    )
    # max_group_size + dup_keeper_checksum (widened r12): the keeper
    # rule — keep MIN(doc_id) per group — was computed but never
    # surfaced, so a wrong-keeper implementation hashed identically;
    # summing the keeper ids of the duplicate groups pins the CHOICE,
    # and the max group size pins the heaviest collision bucket (the
    # skew number an exact-dedup pass monitors at scale).
    return groups.agg(
        F.count("*").alias("n_unique"),
        F.sum("group_size").alias("n_docs"),
        (F.sum("group_size") - F.count("*")).alias("n_duplicates"),
        F.sum(F.when(F.col("group_size") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.max("group_size").alias("max_group_size"),
        F.sum(
            F.when(F.col("group_size") > 1, F.col("keeper_doc_id")).otherwise(0)
        ).alias("dup_keeper_checksum"),
    )


# ---------------------------------------------------------------- d02 minhash+LSH
# universal-hash family over a single 30-bit base hash: one md5 per shingle
# instead of N_HASHES; h_i = (a_i*h + b_i) mod P with odd a_i — deterministic
# and overflow-safe in both engines (a_i*h < 2^36)
_MINHASH_P = 1073741789  # largest prime < 2^30


def _minhash_params(seed: int) -> tuple[int, int]:
    return (2 * seed + 1, (seed * 2654435761) % _MINHASH_P)


# Shared minhash/banding building blocks — used by d02 (corpus-wide LSH) and
# d04's oversized-block fallback (LSH within over-cap blocking keys), in both
# the Spark and oracle-SQL renderings so the two engines stay byte-identical.
def _minhash_min_cols():
    """16 minhash aggregate columns over an ``h`` (masked 30-bit) column."""
    return [
        F.min(
            (F.lit(_minhash_params(seed)[0]) * F.col("h") + F.lit(_minhash_params(seed)[1]))
            % F.lit(_MINHASH_P)
        ).alias(f"m{seed}")
        for seed in range(N_HASHES)
    ]


def _band_cols():
    """4 band-hash columns (md5 over 4 comma-joined minhash lanes)."""
    return [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"m{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)],
            ).cast("binary")
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]


def _band_explode(banded, *keep):
    """band columns -> (doc_id, *keep, bi, bh) rows for ONE bucket equi-join."""
    return banded.select(
        "doc_id",
        *keep,
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias("bi", "bh"),
    )


def _minhash_mins_sql(base: str = "(sh & 1073741823)") -> str:
    return ",\n             ".join(
        "MIN(({a} * {h} + {b}) % {p}) AS m{s}".format(
            a=_minhash_params(seed)[0], b=_minhash_params(seed)[1], h=base, p=_MINHASH_P, s=seed
        )
        for seed in range(N_HASHES)
    )


def _minhash_bands_sql() -> str:
    return ",\n             ".join(
        "md5(" + " || ',' || ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + f") AS band{b}"
        for b in range(N_BANDS)
    )


def _minhash_cte_sql(left: str, right: str, band_pred) -> str:
    """Shared oracle-SQL scaffolding for the MinHash paths: the CTE chain
    shingles -> hashed -> minhashes -> banded -> candidates -> sizes ->
    verified -> matches(left, right, jaccard).  ``band_pred(band_col)``
    renders each band union leg's ON/WHERE tail, so the symmetric
    (doc_a < doc_b) and asymmetric (batch vs corpus) candidate shapes
    share everything else."""
    mins = _minhash_mins_sql()
    bands = _minhash_bands_sql()
    band_union = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS {left}, b.doc_id AS {right}\n"
        f"      FROM banded a JOIN banded b ON a.band{b} = b.band{b}"
        f"{band_pred(b)}"
        for b in range(N_BANDS)
    )
    return f"""shingles AS ({_SHINGLES_SQL}),
    hashed AS (
      SELECT doc_id, {_hash60_sql('shingle')} AS sh FROM shingles
    ),
    minhashes AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
             {bands}
      FROM minhashes
    ),
    candidates AS (
{band_union}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id),
    verified AS (
      SELECT c.{left}, c.{right}, COUNT(*) AS inter
      FROM candidates c
      JOIN hashed sa ON sa.doc_id = c.{left}
      JOIN hashed sb ON sb.doc_id = c.{right} AND sa.sh = sb.sh
      GROUP BY c.{left}, c.{right}
    ),
    matches AS (
      SELECT v.{left}, v.{right},
             ROUND(CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter), 4) AS jaccard
      FROM verified v
      JOIN sizes za ON za.doc_id = v.{left}
      JOIN sizes zb ON zb.doc_id = v.{right}
      WHERE CAST(v.inter AS DOUBLE) / (za.n + zb.n - v.inter)
            >= {JACCARD_THRESHOLD}
    )"""


def _minhash_oracle() -> str:
    cte = _minhash_cte_sql(
        "doc_a", "doc_b", lambda b: " AND a.doc_id < b.doc_id"
    )
    return f"""
    WITH {cte}
    SELECT doc_a, doc_b, jaccard FROM matches
    ORDER BY doc_a, doc_b
    """


def _signature_relations(spark, sf_dir):
    """Shared MinHash signature pipeline — ONE implementation feeding the
    symmetric corpus dedup (d02/d06/d07 via _minhash_pairs) and the
    asymmetric incremental dedup (d10): returns ``(shingles, minhashes,
    exploded)``.

    - ``shingles``: persisted (doc_id, sh).  Every distinct shingle is
      hashed ONCE to a 60-bit long and only the 8-byte key is persisted —
      the string shingles never shuffle or cache; at 100 TB that's the
      difference between moving text and moving longs.
    - ``minhashes``: materialized (doc_id, n, m0..m15).  One aggregation
      pass produces all 16 minhashes AND the shingle-set size (saves a
      second scan+shuffle of the shingle relation).
    - ``exploded``: (doc_id, bi, bh) band rows, so candidate generation is
      ONE equi-join on (band_index, band_hash) instead of N_BANDS joins.

    Both materializations are lazy localCheckpoints, not persist(): each
    relation feeds multiple downstream joins, and checkpoint storage is
    released with the RDD when the query's references drop, where
    persist() pinned executor cache across bench repeats until LRU
    eviction (the d10/d11 ADVICE r10 class).  Accepted trade (same as
    d10/d11): localCheckpoint truncates lineage, so losing an executor
    holding checkpoint blocks mid-query fails the query instead of
    recomputing — acceptable for a retryable batch job, but if this
    engine ever runs under dynamic allocation, swap to reliable
    checkpoint() or persist()+explicit unpersist."""
    d = load(spark, sf_dir, "documents")
    shingles = _shingles_spark(d).select(
        "doc_id", _hash60_spark(F.col("shingle")).alias("sh")
    ).transform(stable_checkpoint, eager=False)
    hashed = shingles.select("doc_id", F.col("sh").bitwiseAND(F.lit(1073741823)).alias("h"))
    minhashes = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n"), *_minhash_min_cols()
    ).transform(stable_checkpoint, eager=False)
    banded = minhashes.select("doc_id", *_band_cols())
    return shingles, minhashes, _band_explode(banded)


def _verify_exact_jaccard(cands, shingles, sizes, left: str, right: str):
    """Exact-Jaccard verification of a candidate pair relation — shared by
    the symmetric (doc_a, doc_b) and asymmetric (doc_b, doc_c) dedup paths.
    ``cands`` must already be materialized by the caller — persist() or a
    lazy localCheckpoint — because it feeds both sides of the
    intersection join.  Returns (left, right, jaccard) rows at or
    above JACCARD_THRESHOLD, jaccard rounded to 4 for oracle parity.

    Verification touches only candidate docs: ONE semi-join prunes the
    shingle relation to candidate docs before the verify join, so it moves
    |candidate docs| x |their shingles|, never the whole corpus.  The
    candidate doc-id set scales with the corpus dup rate, so it carries no
    broadcast hint — AQE broadcasts it while it fits (making the prune a
    map-side filter with zero shingle shuffle) and falls back to a
    shuffled semi-join on a high-dup 100 TB corpus where the set is
    multi-GB and a forced broadcast would OOM."""
    docs_needed = (
        cands.select(F.col(left).alias("doc_id"))
        .union(cands.select(F.col(right).alias("doc_id")))
        .distinct()
    )
    s_cand = shingles.join(docs_needed, "doc_id", "left_semi").transform(stable_checkpoint, eager=False)
    sa = s_cand.select(F.col("doc_id").alias(left), "sh")
    sb = s_cand.select(F.col("doc_id").alias(right), "sh")
    inter = (
        cands.join(sa, left)
        .join(sb, [right, "sh"])
        .groupBy(left, right)
        .agg(F.count("*").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias(left), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias(right), F.col("n").alias("nb"))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(za, left)
        .join(zb, right)
        .filter(jac >= JACCARD_THRESHOLD)
        .select(left, right, F.round(jac, 4).alias("jaccard"))
    )


def _minhash_pairs(
    spark, sf_dir, with_signatures: bool = False, ordered: bool = True
):
    """Verified MinHash near-dup pairs — the shared core of d02 (pair
    listing), d06 (cluster assignment) and d07 (estimator fidelity).

    With ``with_signatures=True`` returns ``(pairs, minhashes)`` where
    ``minhashes`` is the already-materialized (doc_id, n, m0..m15) signature
    relation — so d07 joins the signatures this computation materialized
    instead of re-deriving shingles and re-running the 16-lane aggregate
    (a second full shingle scan + shuffle at scale).

    ``ordered=False`` (r16) drops the final global ORDER BY for consumers
    that feed the pairs into an order-insensitive computation: d06's
    connected-components EAGERLY materializes the symmetrized edge list,
    so the sort — a full range-partitioning exchange of the pair relation
    — would execute inside that checkpoint, where Catalyst's
    EliminateSorts can no longer see that no one depends on it."""
    shingles, minhashes, exploded = _signature_relations(spark, sf_dir)
    a = exploded.select(F.col("doc_id").alias("doc_a"), "bi", "bh")
    bb = exploded.select(F.col("doc_id").alias("doc_b"), "bi", "bh")
    cands = (
        a.join(bb, ["bi", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .transform(stable_checkpoint, eager=False)
    )
    sizes = minhashes.select("doc_id", "n")
    out = _verify_exact_jaccard(cands, shingles, sizes, "doc_a", "doc_b")
    if ordered:
        out = out.orderBy("doc_a", "doc_b")
    if with_signatures:
        return out, minhashes
    return out


@query("d02_minhash_lsh", oracle=_minhash_oracle())
def d02(spark, sf_dir):
    """MinHash + LSH near-dup detection: shingle -> 16 minhashes -> 4 bands
    of 4 -> bucket equi-join for candidates -> exact-Jaccard verification of
    candidates only.  The banding keeps the join linear in docs; the oracle
    runs the same deterministic hashes, so candidate sets match exactly."""
    return _minhash_pairs(spark, sf_dir)


# ---------------------------------------------------------------- d06 dedup clusters
def _clusters_oracle() -> str:
    """Connected components over the verified near-dup pairs via a
    recursive reachability CTE: min reaching node = cluster id."""
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_minhash_oracle()}) p
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(v, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    )
    SELECT v AS doc_id, MIN(r) AS cluster
    FROM reach GROUP BY v ORDER BY doc_id
    """


@query("d06_dedup_clusters", oracle=_clusters_oracle())
def d06(spark, sf_dir):
    """Near-dup CLUSTER assignment — the dedup pipeline step after pair
    generation: connected components over the d02 pair graph, cluster id =
    min doc_id in the component (the canonical document a curator keeps).

    Spark-first shape: HashMin label propagation — every node starts as
    its own label; each round takes the min label over in-neighbors; stop
    when no label changes.  Rounds are bounded by component DIAMETER, and
    LSH duplicate clusters are near-cliques (diameter 1-2), so this
    converges in 2-3 rounds at any corpus size; each round is one
    shuffle bounded by |edges|, and localCheckpoint truncates the
    iteration lineage exactly like the property-path fixpoint
    (translate.py:_closure_pattern).  Docs in no pair are singletons and
    are excluded (their cluster is trivially themselves)."""
    pairs = _minhash_pairs(spark, sf_dir, ordered=False).select("doc_a", "doc_b")
    return connected_components(pairs).select(
        F.col("v").alias("doc_id"), F.col("comp").alias("cluster")
    ).orderBy("doc_id")


# Driver fast-path bound for connected_components: an edge list at or
# under this many (symmetrized) rows is collected and solved with
# union-find on the driver — one collect job against the already-
# materialized edge checkpoint instead of 3+ fixpoint rounds that each
# pay a full Catalyst planning pass (localCheckpoint plans at creation
# even when lazy) plus a cluster job.  Same size-adaptive pattern as the
# QuadStore driver commit: request-scale inputs skip the distributed
# machinery, production-scale inputs (a 100 TB corpus' near-dup graph)
# exceed the bound and keep the distributed fixpoint unchanged.  The
# collect builds one Python Row per edge: 200k int64 edges held ~66 MB on
# the driver (tracemalloc, pyspark 4.1), ~84 MB with ~30-char string ids.
CC_DRIVER_MAX_EDGES = 200_000


def _driver_components(edges, rows):
    """Union-find over a provably small collected edge list; returns the
    identical (v, comp = min node id in component) relation the
    distributed fixpoint produces.  Min-root union keeps every merged
    tree rooted at its component's minimum (the smaller root becomes the
    parent, and the global min can never be attached under anything), so
    find(v) after all unions IS the per-component min — the same
    fixpoint HashMin converges to.  Node ordering matches Spark's: ids
    are int64 in every gate, and for strings Python's code-point
    comparison equals UTF8String's byte comparison (UTF-8 byte order is
    code-point order).

    A NULL id equals nothing, so its edges merge no components — exactly
    as the fixpoint's equi-joins never match it.  Like the fixpoint, the
    output still carries one NULL row, labelled with the component of its
    smallest non-NULL neighbour (NULL when it has none)."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    null_nbrs = []
    for row in rows:
        a, b = row[0], row[1]
        nodes.add(a)
        nodes.add(b)
        if a is None or b is None:
            null_nbrs += [x for x in (a, b) if x is not None]
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = sorted((v, find(v)) for v in nodes if v is not None)
    if None in nodes:
        out.append((None, find(min(null_nbrs)) if null_nbrs else None))
    id_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("v", id_type), T.StructField("comp", id_type)]
    )
    # hand the rows back through Arrow (pandas), not a pickled Python
    # list: createDataFrame(list) parallelizes into default-parallelism
    # slices whose per-action Python->JVM re-serialization costs every
    # consumer ~0.5-1.0s (measured on d06's 477 labels: plain list 1.09s,
    # coalesce(1) 5.8s (!), Arrow 0.18s — matching the 0.12s downstream
    # cost of the distributed path's checkpointed relation)
    import pandas as pd

    pdf = pd.DataFrame(out, columns=["v", "comp"])
    return edges.sparkSession.createDataFrame(pdf, schema)


def connected_components(
    pairs, max_rounds: int = 50, driver_max_edges: int | None = None
):
    """HashMin label propagation WITH pointer jumping over an undirected
    pair list (columns doc_a, doc_b) -> (v, comp) with comp = min node id
    in the component.

    Size-adaptive: after the edge list is materialized (the eager
    checkpoint below — its cost is the pair pipeline, paid either way),
    an edge count at or under ``driver_max_edges`` (default
    ``CC_DRIVER_MAX_EDGES``; pass 0 to force the distributed path) is
    solved with union-find on the driver — identical labels, none of the
    per-round planning+job toll.  Above the bound the distributed
    fixpoint below runs unchanged.  ``max_rounds`` binds only that
    fixpoint: the driver union-find has no rounds.

    Each round does two steps, both |edges|/|V|-bounded shuffles with
    localCheckpoint truncating the per-round lineage:
      1. neighbor-min: comp(v) := min(comp(v), min over in-neighbors)
      2. pointer jump (path compression): comp(v) := comp(comp(v))
    Step 2 is the big-step escalation VERDICT r8 item 7 asked for: label
    distance-to-root at least doubles per round, so convergence is
    O(log diameter) instead of O(diameter) — a 2^50-hop chain would fit in
    the 50-round budget, i.e. every physically constructible graph
    converges.  LSH near-dup graphs (near-cliques, diameter 1-2) still
    finish in 2-3 rounds with one extra |V|-bounded self-join each.

    Invariant both steps preserve: comp(v) is the id of a node in v's
    component with comp(v) <= v, so intermediate labels are never
    cross-component — the fixpoint is exactly the per-component min.

    Still raises if the loop hits ``max_rounds`` before the fixpoint
    (now only reachable via an adversarial max_rounds override or a bug):
    partial labels would silently split components — d06/s06 would emit
    wrong clusters and p04 a LEAKY train/test split with no signal."""
    edges = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .withColumnRenamed("doc_a", "src")
        .withColumnRenamed("doc_b", "dst")
        .transform(stable_checkpoint, eager=True)
    )
    limit = CC_DRIVER_MAX_EDGES if driver_max_edges is None else driver_max_edges
    if limit > 0:
        # ONE bounded job decides the path AND fetches the data: collect
        # at most limit+1 checkpointed rows — memory is capped by the
        # limit regardless of the true edge count, and getting limit+1
        # rows back proves the graph is over-bound (the partial rows are
        # discarded and the distributed fixpoint below runs unchanged)
        head = edges.select("src", "dst").limit(limit + 1).collect()
        if len(head) <= limit:
            return _driver_components(edges, head)
    # Fused initialization: comp0(v) = min(v, min over neighbors).  The
    # naive init (identity labels) makes round 1's neighbor-min join a
    # join against an identity map — pure waste.  One aggregate over the
    # symmetrized edges computes distinct-nodes AND round 1's neighbor-min
    # in the same shuffle, so every call saves a full round of join work.
    # Every node appears as dst (edges are symmetrized), and comp values
    # stay node ids, so the pointer-jump invariant below holds from the
    # start.
    labels = (
        edges.groupBy(F.col("dst").alias("v"))
        .agg(F.min("src").alias("m"))
        .select("v", F.least("v", "m").alias("comp"))
    )
    changed = -1  # sentinel: loop body never ran (max_rounds <= 0)
    for _round in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.src == labels.v)
            .groupBy(F.col("dst").alias("nv"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry the previous label alongside the stepped one so the
        # convergence check rides the same job as the jump join below —
        # one job per round, not a jump job plus a separate count job
        stepped = labels.join(nbr_min, labels.v == F.col("nv"), "left").select(
            "v",
            F.col("comp").alias("prev"),
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
        )
        # pointer jump: every comp value is itself a node id carried in
        # `stepped` (comps only ever take node-id values), so the self-join
        # resolves comp -> comp(comp); left+coalesce guards the root's
        # self-label
        ptr = stepped.select(F.col("v").alias("pv"), F.col("comp").alias("pcomp"))
        new_labels = (
            stepped.join(ptr, stepped.comp == F.col("pv"), "left")
            .select(
                "v",
                F.least(F.col("comp"), F.coalesce("pcomp", F.col("comp"))).alias("comp"),
                (F.least(F.col("comp"), F.coalesce("pcomp", F.col("comp")))
                 != F.col("prev")).cast("long").alias("chg"),
            )
            .transform(stable_checkpoint, eager=False)
        )
        # the lazy local checkpoint materializes (and truncates lineage)
        # on this aggregate's job, so labels + changed-count cost ONE job
        changed = new_labels.agg(F.coalesce(F.sum("chg"), F.lit(0))).first()[0]
        labels = new_labels.drop("chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within {max_rounds} rounds "
        f"({changed} labels still changing) — refusing to return partial "
        f"(wrong) cluster labels"
    )


# ---------------------------------------------------------------- d03 simhash
def _simhash_sql(hash_expr: str) -> str:
    """SQL for a 32-bit simhash aggregated over token hashes."""
    bits = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN ({hash_expr} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return bits


SIMHASH_ROTATIONS = (0, 8, 16, 24)


def _simhash_oracle() -> str:
    h = _hash60_sql("w") + " & 4294967295"
    rot = "(((s.simhash << t.r) | (s.simhash >> (32 - t.r))) & 4294967295)"
    return f"""
    WITH tokens AS (
      SELECT doc_id, unnest({ws_words_sql('text')}) AS w
      FROM documents
    ),
    sims AS (
      SELECT doc_id, {_simhash_sql(h)} AS simhash
      FROM tokens GROUP BY doc_id
    ),
    keys AS (
      SELECT s.doc_id, s.simhash, t.r, {rot} >> 16 AS k
      FROM sims s CROSS JOIN (VALUES (0), (8), (16), (24)) t(r)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS sim_a, b.simhash AS sim_b
      FROM keys a JOIN keys b ON a.r = b.r AND a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cands
    WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


@query("d03_simhash", oracle=_simhash_oracle())
def d03(spark, sf_dir):
    """SimHash near-dup: 32-bit sign-aggregated token-hash fingerprint;
    candidates come from 4 rotation tables (Manku et al.) — two docs are
    candidates iff the top 16 bits of the fingerprint rotated by one of
    0/8/16/24 agree — then verified by Hamming distance <= 6.  Each table
    key spans the full 2^16 space, so blocks stay ~n/65536 per table at
    any corpus size (the single-prefix scheme concentrated everything in
    one table and went quadratic within hot prefixes)."""
    d = load(spark, sf_dir, "documents")
    tokens = fan_out(d.select("doc_id", "text")).select(
        "doc_id", F.explode(ws_words_spark(F.col("text"))).alias("w")
    )
    # hash every occurrence and aggregate straight on doc_id — ONE shuffle.
    # The former (doc_id, token)-distinct pre-aggregation halved the md5
    # work but paid a full-width shuffle of the token table; hashing
    # per-occurrence is embarrassingly-parallel CPU, and with map-side
    # partial aggregation the only shuffle is n_docs x 13 longs.  That is
    # the 100 TB trade: compute scales with executors, shuffle doesn't.
    hashed = tokens.select(
        "doc_id",
        _hash60_spark(F.col("w")).bitwiseAND(F.lit(4294967295)).alias("h"),
    )
    # Packed bit-count aggregation (VERDICT r5 item 6): the per-bit signed
    # sum s_b = sum(+-1) equals 2*S_b - T where S_b = sum(bit_b) and
    # T = count(*), so the sign test s_b >= 0 is 2*S_b >= T.  Pack three
    # 21-bit S_b lanes per long: 11 packed SUMs + one count replace the 32
    # conditional SUMs (fewer aggregate buffers, ~3x smaller expression
    # tree).  Integer-exact while T < 2^21 occurrences per document
    # (~10 MB of text) — lane sums are bounded by T.
    LANE, M21 = 21, (1 << 21) - 1
    n_packed = (SIMHASH_BITS + 2) // 3
    packed = []
    for j in range(n_packed):
        lanes = None
        for i in range(min(3, SIMHASH_BITS - 3 * j)):
            bit = F.shiftright(F.col("h"), 3 * j + i).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, LANE * i)
            lanes = term if lanes is None else lanes + term
        packed.append(F.sum(lanes).alias(f"p{j}"))
    sums = hashed.groupBy("doc_id").agg(*packed, F.count("*").alias("__T"))
    simhash = None
    for b in range(SIMHASH_BITS):
        j, i = divmod(b, 3)
        s_b = F.shiftright(F.col(f"p{j}"), LANE * i).bitwiseAND(F.lit(M21))
        term = F.when(2 * s_b >= F.col("__T"), F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    # materialize the fingerprint table before the self-join: both join
    # sides derive from it, and without truncation each side re-runs the
    # whole tokenize+md5+aggregate pipeline (measured 2.4s -> 1.6s at
    # sf0.1).  At scale this is the production shape too — simhash
    # fingerprints are n rows x 16 bytes, stored once, joined many times.
    # eager: LAZY sharing between two join sides within a single action
    # is cache-timing dependent (concurrent shuffle-map stages can race
    # the MEMORY_AND_DISK cache and partially recompute — see
    # checkpointing.py's documented-weaknesses list); the full
    # tokenize+md5+aggregate pipeline is expensive enough that the
    # guaranteed single run is worth the materialization barrier
    sims = sums.select("doc_id", simhash.cast("long").alias("simhash")).transform(stable_checkpoint, eager=True)

    # rotation-table keys as JOIN COLUMNS (an expression condition would
    # force a nested-loop join): table t keys on the top 16 bits of the
    # fingerprint rotated left by SIMHASH_ROTATIONS[t]; posexplode keeps
    # the table index in the join key so tables never cross-match
    mask = F.lit(4294967295)

    def _rot_key(r: int):
        h = F.col("simhash")
        rot = (F.shiftleft(h, r).bitwiseOR(F.shiftright(h, 32 - r))).bitwiseAND(mask)
        return F.shiftright(rot, 16)

    keyed = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[_rot_key(r) for r in SIMHASH_ROTATIONS])).alias("t", "k"),
    )
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "t", "k")
    b_ = keyed.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "t", "k")
    # verify (per-row bit_count) BEFORE the distinct: the Hamming filter
    # is free inside the join stage, so the dedup-across-tables shuffle
    # only carries confirmed near-dup pairs, not every candidate
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b_, ["t", "k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- d05 decontamination
# Benchmark-contamination check: the pipeline op run before training to
# find corpus documents that share long n-grams with a held-out eval set
# (the standard 8-13-gram decontamination used by LLM data pipelines).
# The "benchmark" here is a deterministic 1-in-20 hash sample of the
# corpus (stand-in for an external eval-set table — swapping the source
# changes one DataFrame).
DECON_N = 8  # words per contamination n-gram
_DECON_SAMPLE_MOD = 20

# the deterministic 1-in-20 benchmark sample, rendered identically on both
# engines — shared by d05 (exact) and d11 (fuzzy) so the two gates flag
# against the SAME held-out set
_BENCH_PRED_SQL = (
    f"(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT"
    f" % {_DECON_SAMPLE_MOD}) = 0"
)


def _bench_pred_spark():
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("bigint")
        % _DECON_SAMPLE_MOD
    ) == 0


# d05's tokenizer, one definition per engine: the shared lower_markstrip
# case fold (lower, combining marks stripped AFTER the lower — see
# queries.lower_markstrip_spark for the Java-vs-utf8proc divergence it
# closes), then the shared explicit-ASCII-class whitespace split (see
# queries.ws_words_spark — \s and trim() are engine-dependent on exotic
# whitespace, which is token CONTENT for the exact matcher; d11's
# normalization handles it as drift).  tests/test_dedup.py pins
# three-engine parity.
_D05_WORDS_SQL = ws_words_sql(lower_markstrip_sql("text"))


def _d05_words_spark():
    return ws_words_spark(lower_markstrip_spark(F.col("text")))


def _decon_oracle() -> str:
    ngram = " || ' ' || ".join(f"w[i+{k}]" for k in range(DECON_N))
    bench = _BENCH_PRED_SQL
    return f"""
    WITH ngrams AS (
      SELECT DISTINCT doc_id, {_hash60_sql(f"({ngram})")} AS ng
      FROM (SELECT doc_id, {_D05_WORDS_SQL} AS w
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - {DECON_N - 1}, 0))) AS i)
    ),
    bench AS (SELECT ng, doc_id AS bench_doc FROM ngrams WHERE {bench}),
    train AS (SELECT ng, doc_id FROM ngrams WHERE NOT {bench})
    SELECT t.doc_id,
           COUNT(DISTINCT t.ng) AS n_shared_ngrams,
           COUNT(DISTINCT b.bench_doc) AS n_benchmark_docs
    FROM train t JOIN bench b ON t.ng = b.ng
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """


@query("d05_decontamination", oracle=_decon_oracle())
def d05(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing >= 1 distinct
    8-gram with any benchmark doc.  N-grams are hashed to 8-byte keys
    before the join (strings never shuffle) and the collision check is a
    plain equi-join on the hash — shuffle is proportional to corpus
    n-grams, never all-pairs, so the op scales like d02's banded join.

    Tokens are lowered with combining marks (\\p{Mn}) stripped AFTER the
    lower — same recipe as d11's normalization and for the same reason:
    Java's toLowerCase maps U+0130-class characters to base letter +
    combining mark while DuckDB's utf8proc maps to the bare base letter,
    so without the strip the two engines hash different 8-grams on such
    text (tools/unicode_parity_probe.py measures this class)."""
    d = load(spark, sf_dir, "documents")
    words = _d05_words_spark()
    expr = grams_expr(DECON_N, f"concat_ws(' ', slice(w, i, {DECON_N}))")
    ngrams = (
        fan_out(d.select("doc_id", "text"))
        .select("doc_id", words.alias("w"))
        .select("doc_id", F.explode(F.array_distinct(F.expr(expr))).alias("g"))
        .select("doc_id", _hash60_spark(F.col("g")).alias("ng"))
    )
    is_bench = _bench_pred_spark()
    bench = ngrams.filter(is_bench).select("ng", F.col("doc_id").alias("bench_doc"))
    train = ngrams.filter(~is_bench)
    return (
        train.join(bench, "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("bench_doc").alias("n_benchmark_docs"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- d04 ngram jaccard (blocked exact + LSH fallback)
# Hard ceiling on docs per (lang, len_bucket) block: pair generation is
# all-pairs within a block, so an unbounded block (think lang='en' at corpus
# scale) is quadratic.  Blocks over the cap are NOT dropped — their docs
# route through d02's MinHash band-bucket candidate generation (linear in
# docs), restricted to same-block candidates, and rejoin the shared exact
# Jaccard verify stage.  Every document therefore gets near-dup pairs: small
# blocks exhaustively, over-cap blocks at LSH recall.  The cap is sized so
# the sf0.01 oracle gate exercises BOTH routes (largest sf0.01 block is 84
# docs); at production scale any value bounds the pair space at cap^2/block.
D04_MAX_BLOCK_DOCS = 64


def _d04_oracle() -> str:
    lsh_union = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        f"      FROM banded_k a JOIN banded_k b ON a.band{b} = b.band{b}\n"
        f"       AND a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id"
        for b in range(N_BANDS)
    )
    return f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    hashed AS (
      SELECT doc_id, {_hash60_sql('shingle')} AS sh FROM shingles
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id),
    docmeta AS (SELECT doc_id, lang, n_chars // 200 AS len_bucket FROM documents),
    counts AS (SELECT lang, len_bucket, COUNT(*) AS c FROM docmeta GROUP BY 1, 2),
    bounded AS (
      SELECT m.* FROM docmeta m
      JOIN counts k ON k.lang = m.lang AND k.len_bucket = m.len_bucket
      WHERE k.c <= {D04_MAX_BLOCK_DOCS}
    ),
    overc AS (
      SELECT m.* FROM docmeta m
      JOIN counts k ON k.lang = m.lang AND k.len_bucket = m.len_bucket
      WHERE k.c > {D04_MAX_BLOCK_DOCS}
    ),
    exact_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bounded a JOIN bounded b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    ),
    over_hashed AS (
      SELECT h.doc_id, (h.sh & 1073741823) AS hh
      FROM hashed h JOIN overc o ON o.doc_id = h.doc_id
    ),
    minhashes AS (
      SELECT doc_id,
             {_minhash_mins_sql('hh')}
      FROM over_hashed GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
             {_minhash_bands_sql()}
      FROM minhashes
    ),
    banded_k AS (
      SELECT b.*, o.lang, o.len_bucket FROM banded b JOIN overc o ON o.doc_id = b.doc_id
    ),
    lsh_pairs AS (
{lsh_union}
    ),
    pairs AS (SELECT * FROM exact_pairs UNION SELECT * FROM lsh_pairs),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM pairs p
      JOIN hashed sa ON sa.doc_id = p.doc_a
      JOIN hashed sb ON sb.doc_id = p.doc_b AND sa.sh = sb.sh
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT v.doc_a, v.doc_b,
           ROUND(CAST(v.i AS DOUBLE) / (za.n + zb.n - v.i), 4) AS jaccard
    FROM inter v
    JOIN sizes za ON za.doc_id = v.doc_a
    JOIN sizes zb ON zb.doc_id = v.doc_b
    WHERE CAST(v.i AS DOUBLE) / (za.n + zb.n - v.i) >= 0.25
    ORDER BY doc_a, doc_b
    """


@query("d04_ngram_jaccard_blocked", oracle=_d04_oracle())
def d04(spark, sf_dir):
    """Exact n-gram Jaccard within blocking keys (lang, length-bucket),
    with a hard per-block doc cap: small blocks get exhaustive all-pairs
    (cost bounded by cap^2 per block), over-cap blocks route through d02's
    MinHash band-bucket candidate generation (linear in docs, restricted to
    same-block candidates) — no document is silently dropped.  Both routes
    share one exact verify stage over 60-bit hashed shingles, so shuffles
    move 8-byte keys, never shingle strings."""
    d = load(spark, sf_dir, "documents")
    shingles = _shingles_spark(d).select(
        "doc_id", _hash60_spark(F.col("shingle")).alias("sh")
    ).transform(stable_checkpoint, eager=False)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    meta = d.select("doc_id", "lang", (F.col("n_chars") / 200).cast("long").alias("len_bucket"))
    # block-size guard: the distinct (lang, len_bucket) count table is
    # bounded by langs x max-doc-len/200 (tiny at any SF) -> broadcast
    # semi-joins prune map-side, no extra shuffle of meta.  Lazy
    # checkpoint (r15): small AND big derive from it, so without
    # materialization the census aggregate ran twice — one corpus
    # counting pass suffices at any scale
    counts = meta.groupBy("lang", "len_bucket").agg(
        F.count("*").alias("c")
    ).transform(stable_checkpoint, eager=False)
    small = counts.filter(F.col("c") <= D04_MAX_BLOCK_DOCS).select("lang", "len_bucket")
    big = counts.filter(F.col("c") > D04_MAX_BLOCK_DOCS).select("lang", "len_bucket")
    bounded = meta.join(F.broadcast(small), ["lang", "len_bucket"], "left_semi")
    overc = meta.join(F.broadcast(big), ["lang", "len_bucket"], "left_semi")

    # route 1: exhaustive pairs within small blocks
    a = bounded.select(F.col("doc_id").alias("doc_a"), "lang", "len_bucket")
    b = bounded.select(F.col("doc_id").alias("doc_b"), "lang", "len_bucket")
    exact_pairs = (
        a.join(b, ["lang", "len_bucket"]).filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )

    # route 2: over-cap blocks -> d02's band-bucket LSH candidates, keyed
    # by (block, band) so candidates stay within one blocking key.  The
    # over-cap doc-id set scales with the corpus, so the semi-join carries
    # no broadcast hint — AQE decides from runtime sizes.
    over_sh = shingles.join(overc.select("doc_id"), "doc_id", "left_semi")
    hashed = over_sh.select("doc_id", F.col("sh").bitwiseAND(F.lit(1073741823)).alias("h"))
    # lazy checkpoint (r15): the banded relation is consumed by BOTH
    # sides of the candidate self-join below, so the semi-join + 16-lane
    # minhash aggregate ran twice without materialization — the same
    # one-signature-pass rule _signature_relations applies for d02/d10.
    # Lazy (not eager, unlike d03's fingerprint table): sharing within
    # one action is cache-timing dependent (checkpointing.py documented
    # weaknesses), but a partial recompute of hash columns here is cheap
    # next to an always-on materialization barrier
    minhashes = hashed.groupBy("doc_id").agg(*_minhash_min_cols()).transform(
        stable_checkpoint, eager=False
    )
    banded = minhashes.select("doc_id", *_band_cols())
    exploded = _band_explode(banded).join(overc, "doc_id")
    la = exploded.select(F.col("doc_id").alias("doc_a"), "lang", "len_bucket", "bi", "bh")
    lb = exploded.select(F.col("doc_id").alias("doc_b"), "lang", "len_bucket", "bi", "bh")
    lsh_pairs = (
        la.join(lb, ["lang", "len_bucket", "bi", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # shared exact verify over hashed shingles (routes are disjoint by
    # block membership, so unionByName needs no dedup across them)
    pairs = exact_pairs.unionByName(lsh_pairs)
    sa = shingles.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = shingles.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(jac >= 0.25)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- d07 estimator fidelity
def _d07_oracle() -> str:
    lane_match = " + ".join(
        f"CASE WHEN ma.m{s} = mb.m{s} THEN 1 ELSE 0 END" for s in range(N_HASHES)
    )
    return f"""
    WITH pairs AS (
      SELECT doc_a, doc_b, jaccard FROM ({_minhash_oracle()})
    ),
    shingles AS ({_SHINGLES_SQL}),
    hashed AS (
      SELECT doc_id, ({_hash60_sql('shingle')} & 1073741823) AS hh FROM shingles
    ),
    minhashes AS (
      SELECT doc_id,
             {_minhash_mins_sql('hh')}
      FROM hashed GROUP BY doc_id
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST({lane_match} AS BIGINT) AS n_matching_lanes,
           ROUND(CAST({lane_match} AS DOUBLE) / {N_HASHES}, 4) AS est_jaccard
    FROM pairs p
    JOIN minhashes ma ON ma.doc_id = p.doc_a
    JOIN minhashes mb ON mb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query("d07_minhash_estimator_fidelity", oracle=_d07_oracle())
def d07(spark, sf_dir):
    """MinHash estimator fidelity: for every verified near-dup pair, the
    number of agreeing signature lanes (0..16) next to the EXACT Jaccard
    — E[lanes/16] = J is the property the whole LSH scale path rests on,
    and this gate pins the signature agreement down to exact integers per
    pair (a single corrupted lane hash breaks it).  Cost shape: the
    16-lane signature relation is the MATERIALIZED one _minhash_pairs already
    materialized for pair verification (no second shingle scan + shuffle
    — ADVICE r7 fix), plus two signature joins on the (tiny)
    verified-pair relation."""
    pairs, minhashes = _minhash_pairs(spark, sf_dir, with_signatures=True)
    ma = minhashes.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(N_HASHES)]
    )
    mb = minhashes.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(N_HASHES)]
    )
    lanes = None
    for s in range(N_HASHES):
        t = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        lanes = t if lanes is None else lanes + t
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            lanes.cast("long").alias("n_matching_lanes"),
            F.round(lanes.cast("double") / N_HASHES, 4).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- d08 substring spans
D08_NGRAM = 8


def _merge_spans(pos_df, ngram: int):
    """Doc-partitioned gaps-and-islands merge of flagged n-gram positions
    (doc_id, pos) into maximal token spans (doc_id, island, s, e) — the
    shared back half of d08 (span listing), d09 (duplication fraction)
    and d11 (contamination census).  Both windows share ONE doc_id
    partition + pos sort: parallelism = documents, per-partition work =
    that doc's flagged positions, never a global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (ngram - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    ni = F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1).otherwise(0)
    isl = pos_df.withColumn("ni", ni).withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max(F.col("pos") + (ngram - 1)).alias("e")
    )


def _spans_cte_sql(src: str, ngram: int) -> str:
    """DuckDB twin of ``_merge_spans``: renders the marked -> isl -> spans
    CTE chain over a (doc_id, pos) relation named ``src``; the final CTE
    is ``spans(doc_id, island, s, e)``.  One definition keeps the three
    oracle copies (d08/d09/d11) from drifting."""
    return f"""marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + {ngram - 1}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -{ngram}) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM {src}
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos + {ngram - 1}) AS e
      FROM isl GROUP BY doc_id, island
    )"""


def _d08_oracle() -> str:
    gram = "array_to_string(w[i:i+7], ' ')"
    return f"""
    WITH toks AS (
      SELECT doc_id, {ws_words_sql('text')} AS w FROM documents
    ),
    ngrams AS (
      SELECT doc_id, i AS pos, {_hash60_sql(gram)} AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - {D08_NGRAM - 1})) AS i)
      WHERE len(w) >= {D08_NGRAM}
    ),
    shared AS (SELECT h FROM ngrams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT n.doc_id, n.pos FROM ngrams n JOIN shared s ON n.h = s.h),
    {_spans_cte_sql('dup', D08_NGRAM)}
    SELECT doc_id,
           s AS span_start,
           e AS span_end,
           e - s + 1 AS span_tokens
    FROM spans
    ORDER BY doc_id, span_start
    """


def _tokenized_docs(spark, sf_dir):
    """documents -> (doc_id, w: array of whitespace tokens), all docs.
    Explicit-ASCII-class split (ws_words_spark) so the d08/d09 span token
    positions agree with the oracles on exotic whitespace — trim() strips
    U+2009/NBSP in DuckDB but not Spark."""
    d = load(spark, sf_dir, "documents")
    words = ws_words_spark(F.col("text"))
    return fan_out(d.select("doc_id", "text")).select("doc_id", words.alias("w"))


def _cross_doc_flagged_positions(toks):
    """(doc_id, pos) of every {D08_NGRAM}-token window whose hash is shared
    verbatim by >= 2 distinct documents — the common front half of d08
    (span merge) and d09 (per-doc duplication fraction), over an already
    tokenized (doc_id, w) frame so callers with several consumers of the
    tokens (d09) can materialize the tokenize pass ONCE.  Only the 8-byte
    hash shuffles; the shared-hash set rides a partial-agg
    COUNT(DISTINCT doc) and flags positions via a left-semi join."""
    with_words = toks.filter(F.size("w") >= D08_NGRAM)
    grams = F.expr(
        f"transform(sequence(1, size(w) - {D08_NGRAM - 1}), "
        f"i -> struct(i AS pos, concat_ws(' ', slice(w, i, {D08_NGRAM})) AS g))"
    )
    ng = with_words.select("doc_id", F.explode(grams).alias("x")).select(
        "doc_id",
        F.col("x.pos").alias("pos"),
        _hash60_spark(F.col("x.g")).alias("h"),
    )
    shared = (
        ng.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return ng.join(shared, "h", "left_semi").select("doc_id", "pos")


@query("d08_substring_span_dedup", oracle=_d08_oracle())
def d08(spark, sf_dir):
    """EXACT SUBSTRING-SPAN dedup — the span-level pass production
    pipelines run after doc-level dedup (dedup of repeated boilerplate /
    quotations that doc-level passes miss): find every {D08_NGRAM}-token
    window shared verbatim by >= 2 DISTINCT documents, then merge the
    flagged windows per document into MAXIMAL token spans
    (doc_id, span_start, span_end) a curator can cut.

    Spark-first shape and 100 TB cost:
    - tokenize + positional n-grams are one JVM transform + explode
      (positions via ``sequence``; no Python);
    - only the 8-byte n-gram HASH shuffles — one partial-agg
      COUNT(DISTINCT doc) per hash finds cross-doc n-grams, one left-semi
      join flags positions (AQE broadcasts the shared-hash relation while
      it fits; at a high-dup corpus it falls back to a shuffled semi-join
      — same unhinted pattern as d02's verify stage);
    - span merge is gaps-and-islands per document: a doc_id-partitioned
      window (parallelism = docs, per-partition work = that doc's flagged
      positions) — never a global sort.
    The DuckDB oracle computes the identical algorithm (shared md5-60bit
    hash helper), so spans match to the exact token index."""
    dup = _cross_doc_flagged_positions(_tokenized_docs(spark, sf_dir))
    return (
        _merge_spans(dup, D08_NGRAM)
        .select(
            "doc_id",
            F.col("s").alias("span_start"),
            F.col("e").alias("span_end"),
            (F.col("e") - F.col("s") + 1).alias("span_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------- d09 duplication fraction
# keep gate: dup_tokens/n_tokens <= NUM/DEN (30%), compared as integers on
# BOTH engines so no float boundary can split them; the single source of
# truth for the threshold — the oracle SQL and the Spark gate both render
# from these
D09_MAX_DUP_NUM = 3
D09_MAX_DUP_DEN = 10


def _d09_oracle() -> str:
    gram = "array_to_string(w[i:i+7], ' ')"
    return f"""
    WITH toks AS (
      SELECT doc_id, {ws_words_sql('text')} AS w FROM documents
    ),
    ngrams AS (
      SELECT doc_id, i AS pos, {_hash60_sql(gram)} AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - {D08_NGRAM - 1})) AS i)
      WHERE len(w) >= {D08_NGRAM}
    ),
    shared AS (SELECT h FROM ngrams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT n.doc_id, n.pos FROM ngrams n JOIN shared s ON n.h = s.h),
    {_spans_cte_sql('dup', D08_NGRAM)},
    cover AS (SELECT doc_id, SUM(e - s + 1) AS dup_tokens FROM spans GROUP BY doc_id),
    dupg AS (SELECT doc_id, COUNT(*) AS n_dup_grams FROM dup GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(g.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           ROUND(COALESCE(c.dup_tokens, 0) / len(t.w), 4) AS dup_token_frac,
           CASE WHEN COALESCE(c.dup_tokens, 0) * {D09_MAX_DUP_DEN}
                     <= len(t.w) * {D09_MAX_DUP_NUM}
                THEN 1 ELSE 0 END AS keep
    FROM toks t
    LEFT JOIN dupg g ON g.doc_id = t.doc_id
    LEFT JOIN cover c ON c.doc_id = t.doc_id
    ORDER BY t.doc_id
    """


@query("d09_duplication_fraction", oracle=_d09_oracle())
def d09(spark, sf_dir):
    """Per-document CROSS-CORPUS duplication fraction — the
    RefinedWeb/FineWeb-style document filter that d08's span list feeds:
    for every document, how many of its tokens sit inside a maximal span
    of {D08_NGRAM}-token windows shared verbatim with other documents,
    and a keep gate at D09_MAX_DUP_NUM/D09_MAX_DUP_DEN (30%).  t07
    measures WITHIN-doc
    repetition; this measures ACROSS-doc duplication — boilerplate,
    syndicated text, licence blocks — the signal used to drop or trim
    documents doc-level dedup (d01/d02) keeps because they are not
    globally identical.

    Scale shape: shares d08's front half (only 8-byte hashes shuffle;
    COUNT(DISTINCT doc) partial agg; left-semi flag join), then the span
    merge and both per-doc aggregates are doc-partitioned — parallelism =
    documents, never a global sort.  The keep gate compares integers
    (dup_tokens*10 <= n_tokens*3), so no float-boundary ambiguity between
    engines."""
    # tokenize ONCE: both the n_tokens branch and the n-gram branch read
    # the same materialized frame (lazy localCheckpoint — first action
    # tokenizes and caches executor-side, the same trade d06 makes for its
    # fixpoint), instead of paying the regex-split corpus pass twice
    tokenized = _tokenized_docs(spark, sf_dir).transform(stable_checkpoint, eager=False)
    toks = tokenized.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    dup = _cross_doc_flagged_positions(tokenized)
    spans = _merge_spans(dup, D08_NGRAM)
    cover = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens")
    )
    dupg = dup.groupBy("doc_id").agg(F.count("*").alias("n_dup_grams"))
    joined = (
        toks.join(dupg, "doc_id", "left")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_dup_grams",
        "dup_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 4).alias("dup_token_frac"),
        F.when(
            F.col("dup_tokens") * D09_MAX_DUP_DEN
            <= F.col("n_tokens") * D09_MAX_DUP_NUM,
            1,
        )
        .otherwise(0)
        .alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------- d10 incremental
D10_BATCH_MOD = 5  # doc_id % 5 == 0 -> the incoming batch (~20%); else corpus


def _d10_oracle() -> str:
    # the asymmetric (batch x corpus) candidate shape is just a band
    # predicate over the shared MinHash CTE chain (ADVICE r9): each band
    # leg keeps batch docs on the left and corpus docs on the right
    cte = _minhash_cte_sql(
        "doc_b",
        "doc_c",
        lambda i: (
            f" AND a.doc_id % {D10_BATCH_MOD} = 0"
            f" AND b.doc_id % {D10_BATCH_MOD} <> 0"
        ),
    )
    return f"""
    WITH {cte},
    per_b AS (
      SELECT doc_b, COUNT(*) AS n_matches, MAX(jaccard) AS best_jaccard,
             MIN(doc_c) AS first_match
      FROM matches GROUP BY doc_b
    )
    SELECT d.doc_id, CAST(COALESCE(p.n_matches, 0) AS BIGINT) AS n_matches,
           p.best_jaccard, p.first_match,
           CAST(CASE WHEN p.doc_b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM documents d LEFT JOIN per_b p ON p.doc_b = d.doc_id
    WHERE d.doc_id % {D10_BATCH_MOD} = 0
    ORDER BY d.doc_id
    """


@query("d10_incremental_corpus_dedup", oracle=_d10_oracle())
def d10(spark, sf_dir):
    """INCREMENTAL corpus dedup — dedup an incoming BATCH against the
    ACCUMULATED corpus, the operating mode of a continuously-fed training
    pipeline (each crawl snapshot dedupes against everything already
    kept): for every batch doc, does it near-duplicate any existing
    corpus doc, against which first, and how strongly.  d02 answers the
    within-corpus question; this answers the admission question, emitting
    one row per batch doc (is_new, n_matches, best_jaccard, first_match)
    so the downstream keep/drop filter is a column predicate.

    Scale shape — the point is what does NOT get paid per batch: the
    candidate join is batch-banded x corpus-banded (sides disjoint, no
    doc_a<doc_b dance), so its cost scales with |batch| x bucket hit
    rate, never |corpus|^2; exact-Jaccard verification prunes the shingle
    relation to candidate docs with a semi-join first (d02's discipline).
    In production the corpus side of the band join is a PERSISTED
    signature table — written once, bucketed by (band, hash) so the join
    is exchange-free on the corpus side (test_bucketing.py's layout
    contract) — and only the batch pays the shingle->minhash pass each
    round; here both sides derive from one shared scan because the gate
    must be self-contained, with the signature relation computed ONCE and
    reused for banding, sizes, and verification (d07's reuse rule).
    Reference scope note: the reference engine has no dedup surface
    (SURVEY.md §2 — LLM-pipeline operators are this repo's extension
    family)."""
    d = load(spark, sf_dir, "documents")
    shingles, minhashes, exploded = _signature_relations(spark, sf_dir)
    is_batch = (F.col("doc_id") % D10_BATCH_MOD) == 0
    bt = exploded.filter(is_batch).select(F.col("doc_id").alias("doc_b"), "bi", "bh")
    cp = exploded.filter(~is_batch).select(F.col("doc_id").alias("doc_c"), "bi", "bh")
    # lazy localCheckpoint, not persist(): cands feeds both sides of the
    # verify join; checkpoint storage is released with the RDD when the
    # query's references drop, where persist() pinned cache across bench
    # repeats until LRU eviction (the d11 ADVICE r10 class)
    cands = (
        bt.join(cp, ["bi", "bh"])
        .select("doc_b", "doc_c")
        .distinct()
        .transform(stable_checkpoint, eager=False)
    )
    sizes = minhashes.select("doc_id", "n")
    matches = _verify_exact_jaccard(cands, shingles, sizes, "doc_b", "doc_c")
    per_b = matches.groupBy("doc_b").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("best_jaccard"),
        F.min("doc_c").alias("first_match"),
    )
    all_batch = d.filter(is_batch).select(F.col("doc_id").alias("doc_b"))
    return (
        all_batch.join(per_b, "doc_b", "left")
        .select(
            F.col("doc_b").alias("doc_id"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            "best_jaccard",
            "first_match",
            F.when(F.col("n_matches").isNull(), 1).otherwise(0).cast("long").alias("is_new"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------- d11 fuzzy decontamination
# Real benchmark contamination ships with whitespace/casing/punctuation
# drift (a README quoting an eval question re-wraps and re-punctuates it),
# which d05's verbatim 8-grams miss.  d11 NORMALIZES before shingling —
# lowercase, every non-alphanumeric run collapsed to one space — and then
# runs the same hashed-8-gram collision join against the SAME held-out
# 1-in-20 benchmark sample as d05, keeping token POSITIONS so the matches
# merge into maximal cut-ready spans (d08's gaps-and-islands).  Output is
# the per-train-doc contamination census a pipeline's decontamination
# filter consumes: span count, contaminated-token count and fraction, and
# how many distinct benchmark docs the doc collides with.
D11_NGRAM = 8

# one normalization, rendered identically on both engines: lower, then
# combining marks (\p{Mn}) DELETED, then every non-[a-z0-9] RUN -> single
# space, then trim.  A single space is the only separator left, so both
# engines split on ' ' (no regex-split semantics in play).  The mark
# deletion closes the one cross-engine divergence class: Java's
# toLowerCase maps characters with multi-codepoint lowercase forms (e.g.
# U+0130 'İ' -> 'i' + combining dot) while DuckDB's utf8proc maps them to
# the bare base letter, so without the strip one engine splits mid-word
# where the other doesn't — and it keeps diacritic marks on decomposed
# text from acting as bogus word boundaries (tests/test_dedup.py pins the
# three-engine parity on an adversarial corpus).
_D11_NORM_SQL = (
    "regexp_split_to_array(trim(regexp_replace("
    + lower_markstrip_sql("text")
    + ", '[^a-z0-9]+', ' ', 'g')), ' ')"
)


def _d11_norm_words_spark():
    return F.split(
        F.trim(
            F.regexp_replace(
                lower_markstrip_spark(F.col("text")),
                "[^a-z0-9]+",
                " ",
            )
        ),
        " ",
    )


def _d11_oracle() -> str:
    gram = f"array_to_string(w[i:i+{D11_NGRAM - 1}], ' ')"
    return f"""
    WITH toks AS (
      SELECT doc_id, {_D11_NORM_SQL} AS w FROM documents
    ),
    ngrams AS (
      SELECT doc_id, i AS pos, {_hash60_sql(gram)} AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - {D11_NGRAM - 1})) AS i)
      WHERE len(w) >= {D11_NGRAM}
    ),
    bench AS (
      SELECT DISTINCT h, doc_id AS bench_doc FROM ngrams WHERE {_BENCH_PRED_SQL}
    ),
    train AS (SELECT doc_id, pos, h FROM ngrams WHERE NOT {_BENCH_PRED_SQL}),
    hits AS (
      SELECT t.doc_id, t.pos, b.bench_doc FROM train t JOIN bench b ON t.h = b.h
    ),
    pos_hits AS (SELECT DISTINCT doc_id, pos FROM hits),
    {_spans_cte_sql('pos_hits', D11_NGRAM)},
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS contam_tokens
      FROM spans GROUP BY doc_id
    ),
    bdocs AS (
      SELECT doc_id, COUNT(DISTINCT bench_doc) AS n_benchmark_docs
      FROM hits GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, len(w) AS n_tokens FROM toks)
    SELECT p.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.n_spans AS BIGINT) AS n_spans,
           CAST(p.contam_tokens AS BIGINT) AS contam_tokens,
           ROUND(p.contam_tokens / s.n_tokens, 4) AS contam_frac,
           CAST(b.n_benchmark_docs AS BIGINT) AS n_benchmark_docs
    FROM per_doc p
    JOIN sizes s ON s.doc_id = p.doc_id
    JOIN bdocs b ON b.doc_id = p.doc_id
    ORDER BY p.doc_id
    """


@query("d11_fuzzy_decontamination", oracle=_d11_oracle())
def d11(spark, sf_dir):
    """FUZZY benchmark decontamination — d05 with drift tolerance and span
    output (VERDICT r9 item 5): normalize (lowercase, collapse every
    punctuation/whitespace run to one space) BEFORE shingling, so
    re-wrapped / re-cased / re-punctuated copies of benchmark text still
    collide; keep n-gram POSITIONS so the collisions merge into maximal
    contaminated spans per training doc (d08's doc-partitioned
    gaps-and-islands).  Emits per contaminated train doc: n_spans,
    contam_tokens, contam_frac and the distinct benchmark docs hit.

    Scale shape (d05's discipline, d08's merge):
    - normalize + positional n-grams are one JVM transform + explode; the
      8-gram STRING is hashed to a 60-bit long in the same projection, so
      only (doc_id, pos, 8-byte hash) ever shuffles;
    - the collision check is ONE hash equi-join of train positions
      against the DISTINCT benchmark gram set — shuffle is proportional
      to corpus n-grams, never all-pairs; AQE broadcasts the benchmark
      side while it fits (an eval set is small by construction — at
      production scale this join is map-side);
    - span merge is doc_id-partitioned gaps-and-islands (parallelism =
      contaminated docs), and both per-doc aggregates reuse the hits
      relation, persisted once.
    Reference scope note: the reference engine has no dedup surface
    (SURVEY.md §2 — LLM-pipeline operators are this repo's extension
    family)."""
    d = load(spark, sf_dir, "documents")
    toks = fan_out(d.select("doc_id", "text")).select(
        "doc_id", _d11_norm_words_spark().alias("w")
    )
    sizes = toks.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    grams = F.expr(
        f"transform(sequence(1, size(w) - {D11_NGRAM - 1}), "
        f"i -> struct(i AS pos, concat_ws(' ', slice(w, i, {D11_NGRAM})) AS g))"
    )
    ng = (
        toks.filter(F.size("w") >= D11_NGRAM)
        .select("doc_id", F.explode(grams).alias("x"))
        .select(
            "doc_id",
            F.col("x.pos").alias("pos"),
            _hash60_spark(F.col("x.g")).alias("h"),
        )
    )
    is_bench = _bench_pred_spark()
    bench = ng.filter(is_bench).select("h", F.col("doc_id").alias("bench_doc")).distinct()
    train = ng.filter(~is_bench)
    # hits feeds BOTH the span merge and the benchmark-doc census — a lazy
    # localCheckpoint (the d09/d03 idiom) materializes the n-gram
    # generation + collision join once on first action and is released
    # with the RDD when the query's references drop, unlike persist(),
    # which pinned cached partitions across bench repeats until LRU
    # eviction (ADVICE r10)
    hits = (
        train.join(bench, "h")
        .select("doc_id", "pos", "bench_doc")
        .transform(stable_checkpoint, eager=False)
    )
    pos_hits = hits.select("doc_id", "pos").distinct()
    spans = _merge_spans(pos_hits, D11_NGRAM)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("contam_tokens"),
    )
    bdocs = hits.groupBy("doc_id").agg(
        F.countDistinct("bench_doc").alias("n_benchmark_docs")
    )
    return (
        per_doc.join(sizes, "doc_id")
        .join(bdocs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("contam_tokens").cast("long").alias("contam_tokens"),
            F.round(F.col("contam_tokens") / F.col("n_tokens"), 4).alias("contam_frac"),
            F.col("n_benchmark_docs").cast("long").alias("n_benchmark_docs"),
        )
        .orderBy("doc_id")
    )
