"""Micro-batch projector: Kafka-event batches -> one quad-store transaction.

This replaces the reference's entire hand-built write path
(FusekiProjector.java:233-479 — transactional micro-batcher, DLQ router,
abort-and-replay, good-prefix guarantee) with a declarative formulation:

- **Micro-batch = transaction** (reference A6): every call to
  ``apply_event_batch`` is exactly one QuadStore commit.  Batch sizing is
  the streaming trigger's job (``maxOffsetsPerTrigger`` etc.), not code —
  see SURVEY.md §4.

- **Good-prefix guarantee, declaratively** (reference A10/A11,
  FusekiProjector.java:362-379): instead of abort-and-replay, malformed
  events are filtered out *before* the single commit, so all parseable
  events land and no batch-mate is lost.  The end state is identical to the
  reference's replay dance.

- **Ordered deletes without a driver loop** (reference §7.4 "delete
  ordering"): the net effect of an ordered op sequence is "for each quad,
  the last op wins".  Each op is ordered by (offset, op index, partition,
  topic) — offset order within a partition is the reference's correctness
  axis, and it requires single-partition topics for delete workloads
  (README.md:148-153); the partition/topic tail only makes cross-partition
  ties break the same way for any row order or partitioning — and reduced
  with max_by.  This is a single shuffle on the quad key and scales
  linearly; no per-event loop.

- **DLQ side-output** (reference A10, FusekiProjector.java:287-320): bad
  rows are returned enriched with the same four ``Dead-Letter-*`` headers
  the reference sets; the caller produces them to the DLQ topic (or a
  parquet dead-letter table when Kafka isn't attached).  Failed events
  ride through the same aggregate as the quads, tagged, so one action sees
  the whole batch.

- **Two paths by batch size.**  A batch whose net effect plus dead letters
  fits ``QuadStore.DRIVER_COMMIT_ROWS`` (the trickle regime) costs one
  bounded collect; its net adds and deletes go to ``QuadStore.commit`` as
  LocalRelation-backed frames, which the store sees are local and small
  and commits on the driver in Arrow.  Larger batches (bulk, soak, replay
  bursts) keep the distributed path: counts from the persisted aggregate,
  then a commit of frames that read the aggregate, which the store runs
  as Spark jobs.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import QUAD_COLS
from ..store import QuadStore, local_quads
from .payloads import PARSED_SCHEMA, parse_events_pdf

# Largest micro-batch (rows of net quads) the commit dedup join may
# broadcast.  Typical trigger-bounded batches are far below this; a replay
# burst or backfill past it falls back to a shuffled join — slower, but
# never an unbounded build side on the driver/executors (~4M quad rows is
# on the order of the broadcast sizes Spark itself tolerates; a hint
# bypasses its size check, so the bound has to live with the hint).
BROADCAST_BATCH_MAX_ROWS = 4_000_000

# A batch whose source is estimated at most this size (the trickle regime)
# skips the parse fan-out shuffle: at ~150k quads/s per core its parse
# takes well under the ~0.35 s the extra shuffle stage costs.
PARSE_FANOUT_MIN_BYTES = 1 << 20

# last_op tag of the dead-letter rows folded into the bounded collect
_DEAD = "!"

DLQ_REASON = "Dead-Letter-Reason"
DLQ_EXC_CLASS = "Dead-Letter-Exception-Class"
DLQ_ROOT_CAUSE = "Dead-Letter-Root-Cause"
DLQ_ROOT_CAUSE_CLASS = "Dead-Letter-Root-Cause-Class"


def parse_events(events: DataFrame) -> DataFrame:
    """EVENT_SCHEMA -> flat PARSED_SCHEMA (one row per op; one NULL-op row
    per failed event) via Arrow-batched mapInPandas."""
    return events.mapInPandas(parse_events_pdf, schema=PARSED_SCHEMA)


def net_effect(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reduce an ordered op stream to net (adds, deletes).

    Input: flat PARSED_SCHEMA rows.  The global op order is (offset, op
    index, partition, topic) — offset order within a Kafka partition is the
    reference's correctness axis (SURVEY.md §2 "ordering, not time").
    """
    last = _net_last(parsed)
    adds = last.filter(F.col("last_op") == "A").select(*QUAD_COLS)
    deletes = last.filter(F.col("last_op") == "D").select(*QUAD_COLS)
    return adds, deletes


def _net_last(parsed: DataFrame) -> DataFrame:
    """The batch's one aggregate: QUAD_COLS + last_op + dead.

    Net-effect rows carry ``last_op`` 'A' or 'D' (``dead`` NULL); every
    failed event becomes one row with NULL quad columns, ``last_op`` =
    ``_DEAD`` and its enriched dead-letter row in ``dead`` (the struct,
    which carries the event's topic/partition/offset, is part of the
    grouping key, so failed events never merge with quads or each other).  Ops are ordered by (offset, op_idx, partition,
    topic): within a partition that is the Kafka order; across partitions
    there is no true order, but equal offsets must still break the same
    way whatever the row order or partitioning of the batch, or the
    winning op of a tie is arbitrary.
    """
    failed = F.col("error").isNotNull()
    ops = parsed.filter(F.col("op").isNotNull() | failed).select(
        F.struct("offset", "op_idx", "partition", "topic").alias("seq"),
        F.coalesce(F.col("op"), F.lit(_DEAD)).alias("op"),
        *QUAD_COLS,
        F.when(failed, F.struct(*_dlq_columns())).alias("dead"),
    )
    # last-op-wins per quad: single hash aggregation, no window, no sort
    return ops.groupBy(*QUAD_COLS, "dead").agg(
        F.max_by("op", F.col("seq")).alias("last_op")
    )


def _dlq_columns() -> list:
    """A failed event's dead-letter row: the event with the reference's
    Dead-Letter-* headers appended (FusekiProjector.java:309-314 naming)."""
    enriched_headers = F.concat(
        F.coalesce(F.col("headers"), F.array()),
        F.array(
            F.struct(F.lit(DLQ_REASON).alias("key"), F.encode(F.col("error"), "utf-8").alias("value")),
            F.struct(
                F.lit(DLQ_EXC_CLASS).alias("key"), F.encode(F.col("error_class"), "utf-8").alias("value")
            ),
            F.struct(
                F.lit(DLQ_ROOT_CAUSE).alias("key"), F.encode(F.col("error"), "utf-8").alias("value")
            ),
            F.struct(
                F.lit(DLQ_ROOT_CAUSE_CLASS).alias("key"),
                F.encode(F.col("error_class"), "utf-8").alias("value"),
            ),
        ),
    )
    return [
        "key", "value", enriched_headers.alias("headers"),
        "topic", "partition", "offset", "timestamp",
    ]


def _estimated_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``: file sizes for a file
    source, exact for local rows, unknown (Long.MaxValue) for Kafka or a
    Python RDD.  Planning only — no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _local_net(spark: SparkSession, rows: list) -> DataFrame | None:
    """Collected net-effect rows as a local quad frame (None when empty)."""
    return local_quads(spark, [tuple(r[c] for c in QUAD_COLS) for r in rows]) if rows else None


def _local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Collected rows back as a LocalRelation-backed frame (via Arrow), so
    writing them out runs no Python worker."""
    pdf = pd.DataFrame([r.asDict(recursive=True) for r in rows], columns=schema.fieldNames())
    return spark.createDataFrame(pdf, schema)


def apply_event_batch(
    spark: SparkSession,
    store: QuadStore,
    events: DataFrame,
    txn_id: str | None = None,
) -> dict:
    """Apply one micro-batch of events transactionally.

    Returns {"version": int, "dlq": DataFrame, "n_adds": int, "n_deletes": int}.
    The caller (streaming foreachBatch or a batch driver) writes the dlq
    DataFrame to the configured dead-letter sink.
    """
    # Fan the batch out to every core before the parse UDF: a micro-batch
    # is typically a handful of Kafka partitions (or one small file split),
    # so without this the Python parse runs on 1-2 tasks while the rest of
    # the cluster idles.  The shuffle moves only the bounded batch payload
    # (<= batch_bytes), but it is one more Spark job: a batch the optimizer
    # knows to be small (file source, local rows) parses in place.
    if _estimated_bytes(events) > PARSE_FANOUT_MIN_BYTES:
        events = events.repartition(spark.sparkContext.defaultParallelism)
    last = None
    try:
        # ONE aggregate serves the whole batch — net adds, net deletes and
        # dead letters — persisted so the bulk path's actions below and the
        # commit's reads share a single parse and shuffle
        last = _net_last(parse_events(events)).persist()
        dlq_schema = last.schema["dead"].dataType
        txn = txn_id or uuid.uuid4().hex
        # a bounded batch (the trickle regime) costs one bounded collect,
        # then a driver commit of the local rows.  Every Spark action runs
        # before the commit either way, so a stop() that drains the
        # in-flight batch can never observe committed-but-unaccounted state.
        bound = store.DRIVER_COMMIT_ROWS
        rows = last.limit(bound + 1).collect() if bound >= 0 else []
        bounded = len(rows) <= bound
        if bounded:
            by_op: dict[str, list] = {"A": [], "D": [], _DEAD: []}
            for r in rows:
                by_op[r["last_op"]].append(r)
            n_adds, n_deletes, n_dlq = (len(by_op[op]) for op in ("A", "D", _DEAD))
            adds = _local_net(spark, by_op["A"])
            deletes = _local_net(spark, by_op["D"])
            dlq = _local_frame(spark, [r["dead"] for r in by_op[_DEAD]], dlq_schema)
        else:
            counts = {
                r["last_op"]: r["n"]
                for r in last.groupBy("last_op").agg(F.count("*").alias("n")).collect()
            }
            n_adds, n_deletes, n_dlq = (counts.get(op, 0) for op in ("A", "D", _DEAD))
            adds = last.filter(F.col("last_op") == "A").select(*QUAD_COLS) if n_adds else None
            deletes = (
                last.filter(F.col("last_op") == "D").select(*QUAD_COLS) if n_deletes else None
            )
            # the caller writes the dead letters after `last` is released:
            # materialize them now (never on the soak's clean batches)
            dlq = _local_frame(spark, [], dlq_schema)
            if n_dlq:
                dlq = last.filter(F.col("last_op") == _DEAD).select("dead.*").persist()
                dlq.count()
        # applied-delta accounting: a crash-replayed batch (same txn_id) is
        # a store no-op, so its delta is 0 — single writer per connector
        # makes this pre-check race-free (FKRegistry.java:45-99 invariant)
        replayed = store.seen_txn(txn)
        version = store.commit(
            spark,
            adds=adds,
            deletes=deletes,
            txn_id=txn,
            # net-effect already reduced to unique quads — skip the
            # within-batch dropDuplicates shuffle in the store
            assume_unique=True,
            # the dedup semi-join broadcasts the batch side only while the
            # batch is genuinely bounded; a replay burst or backfill batch
            # past the cap shuffles instead of collecting a multi-GB build
            # side onto the driver and every executor (n_adds/n_deletes are
            # already known here — the net-effect aggregate counted them)
            broadcast_adds=n_adds <= BROADCAST_BATCH_MAX_ROWS,
            broadcast_deletes=n_deletes <= BROADCAST_BATCH_MAX_ROWS,
        )
        return {
            "version": version,
            "dlq": dlq,
            "n_adds": 0 if replayed else n_adds,
            "n_deletes": 0 if replayed else n_deletes,
            "n_dlq": n_dlq,
            "replayed": replayed,
        }
    finally:
        if last is not None:
            last.unpersist()
