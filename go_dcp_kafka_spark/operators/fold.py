"""Set-oriented CDC fold operators — the distributed equivalents of the
reference's per-event hot path (/root/reference/connector.go:70-123).

The reference applies one event at a time through a callback; Spark applies a
whole micro-batch (or the whole log) at once. The rules that make the
set-oriented fold equal to the sequential fold:

1. **Rollback invalidation** (T5): a rollback control record (partition p,
   point r, delivered at d) invalidates every event of p with seqno > r
   delivered *before* d. Replayed-branch events (delivered after d) survive.
2. **HWM dedup** (T6): events with seqno <= the committed per-partition
   high-watermark are duplicate deliveries (rebalance replay,
   /root/reference/kafka/producer/producer_batch.go:68-75) and are dropped.
   ``hwm_filter`` is the engine's one dedup path: the streaming runner
   joins each epoch against the committed watermark map, shipped from the
   driver as a local frame. The batch fold needs no HWM (see
   ``fold_change_events``).
3. **LWW per key**: among surviving events of one (conv_id, turn_idx) key,
   the winner is max(seqno, delivery_seq). Valid because a key lives in
   exactly one partition (vbucket hashing) and DCP delivers per-partition in
   seqno order, so seqno totally orders a key's history.
4. **Apply**: winner op mutation => row upserted; deletion/expiration =>
   key absent (unlike the reference's DefaultMapper which *drops* deletions
   because its sink is a log — /root/reference/mapper.go:10-20 — ours is a
   table, so deletions must delete).

Scale notes: the fold is ONE shuffle — ``groupBy(key).agg(max_by(...))``
does map-side partial aggregation (unlike a window row_number, which must
materialize all rows per key after the shuffle). Rollback markers are rare
control records: broadcast anti-join, no shuffle. Hot conv_ids do not skew
the fold shuffle because the grouping key includes turn_idx (see salting.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_dcp_kafka_spark.schema import (
    KEY_COLS,
    OP_MUTATION,
    OP_ROLLBACK,
    PAYLOAD_COLS,
)

_WIN_COLS = ("op", "seqno", "delivery_seq", "rev_no", *PAYLOAD_COLS)


def extract_rollback_markers(events: DataFrame) -> DataFrame:
    """Rollback control rows -> (partition_id, rb_point, rb_delivery)."""
    return events.filter(F.col("op") == OP_ROLLBACK).select(
        F.col("partition_id").alias("rb_partition_id"),
        F.col("rollback_point").alias("rb_point"),
        F.col("delivery_seq").alias("rb_delivery"),
    )


def apply_rollbacks(events: DataFrame, markers: DataFrame) -> DataFrame:
    """Drop rolled-back (old-branch) events: seqno > rb_point and delivered
    before the marker. Markers are tiny -> broadcast left-anti join (no
    shuffle of the event stream)."""
    cond = (
        (F.col("partition_id") == F.col("rb_partition_id"))
        & (F.col("seqno") > F.col("rb_point"))
        & (F.col("delivery_seq") < F.col("rb_delivery"))
    )
    return (
        events.filter(F.col("op") != OP_ROLLBACK)
        .join(F.broadcast(markers), cond, "left_anti")
    )


def hwm_filter(events: DataFrame, hwm: DataFrame) -> DataFrame:
    """Drop duplicate deliveries: events at-or-below the committed
    per-partition high-watermark. ``hwm`` is (partition_id, hwm_seqno) —
    at most one row per partition (<= 1024 rows at reference scale:
    Couchbase has 1024 vbuckets) -> broadcast join. The runner builds it
    on the driver from the checkpoint map (``runner._driver_frame``), so
    the broadcast side is a local scan; partitions absent from it have
    seen nothing yet and keep every event."""
    return (
        events.join(
            F.broadcast(hwm.select("partition_id", "hwm_seqno")),
            "partition_id",
            "left",
        )
        .filter(F.col("seqno") > F.coalesce(F.col("hwm_seqno"), F.lit(-1)))
        .drop("hwm_seqno")
    )


def _winner_struct() -> Column:
    return F.max_by(
        F.struct(*[F.col(c) for c in _WIN_COLS]),
        F.struct(F.col("seqno"), F.col("delivery_seq")),
    ).alias("w")


def lww_winners(events: DataFrame) -> DataFrame:
    """Last-writer-wins per key in ONE shuffle with map-side combine.

    Returns one row per touched key with the winning event's op + payload:
    columns (conv_id, turn_idx, op, seqno, delivery_seq, rev_no, role, text,
    tool, ts).
    """
    return (
        events.groupBy(*KEY_COLS)
        .agg(_winner_struct())
        .select(*KEY_COLS, *[F.col(f"w.{c}").alias(c) for c in _WIN_COLS])
    )


def fold_change_events(
    events: DataFrame,
    normalize_text: Column | None = None,
) -> DataFrame:
    """Full-log batch fold: change-event log -> final transcripts table.

    The batch-replay equivalent of the whole streaming pipeline (SURVEY §7
    M1). HWM dedup is implied by LWW here (duplicates re-deliver identical
    rows; rollback divergence is handled by invalidation first).

    ``normalize_text``: optional Column expression applied to ``text``
    (e.g. ``normalize_text_col()`` from functions.normalize).
    """
    markers = extract_rollback_markers(events)
    live = apply_rollbacks(events, markers)
    winners = lww_winners(live)
    final = winners.filter(F.col("op") == OP_MUTATION).select(*KEY_COLS, *PAYLOAD_COLS)
    if normalize_text is not None:
        final = final.withColumn("text", normalize_text)
    return final
