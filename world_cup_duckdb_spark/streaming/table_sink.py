"""Streaming upsert into the versioned table layer: `foreachBatch` +
`merge_table` with batch-id fencing — exactly-once keyed state
materialization (the streaming twin of a MERGE-maintained dimension).

Exactly-once here is the replay-idempotency contract every foreachBatch
sink must implement itself (Spark guarantees at-least-once delivery of
micro-batches after recovery): each commit records the micro-batch id in
the manifest, and a replayed batch (same or lower id than the last
committed one) is skipped, so crash/restart cannot double-apply. The
pattern composes three pieces already proven separately — checkpointed
micro-batch ids, the atomic manifest commit (operators/lakehouse.py),
and keep-latest reduction per key within each batch.

Scale: per batch, the source side is the micro-batch (small), reduced to
one row per touched key before the merge join; the snapshot side is the
big table — AQE broadcasts the batch against it. State lives in the
table, not the stream: restarting the query needs only the checkpoint
offsets plus the last manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from world_cup_duckdb_spark.operators.lakehouse import (
    latest_version,
    merge_table,
    table_history,
    write_table,
)


def _last_batch_id(path: str) -> int | None:
    last = latest_version(path)
    if last is None:
        return None
    ids = [
        m.get("meta", {}).get("batch_id")
        for m in table_history(path)
        if m.get("meta", {}).get("batch_id") is not None
    ]
    return max(ids) if ids else None


def _keep_latest(batch_df: DataFrame, keys: list[str]) -> DataFrame:
    """One row per key: the newest event, ordered by (ts, event_id) so
    ties on ts break deterministically."""
    return batch_df.groupBy(*keys).agg(
        F.max_by(
            F.struct("ts", "value", "event_id"),
            F.struct("ts", "event_id"),
        ).alias("_s")
    ).select(
        *keys,
        F.col("_s.ts").alias("ts"),
        F.col("_s.value").alias("value"),
        F.col("_s.event_id").alias("event_id"),
    )


def stream_upsert_table(
    events: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str] | None = None,
) -> StreamingQuery:
    """Maintain a keyed latest-state table from an event stream: each
    micro-batch reduces to the newest row per (user_id, event_type) —
    ordered by (ts, event_id) — and MERGEs into the versioned table.
    Replayed batches are fenced by the batch id recorded in each
    manifest."""
    keys = key_cols or ["user_id", "event_type"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        fence = _last_batch_id(path)
        if fence is not None and batch_id <= fence:
            return  # replay after recovery: already applied
        latest = _keep_latest(batch_df, keys)
        if latest_version(path) is None:
            write_table(latest, path, meta={"batch_id": batch_id})
        else:
            merge_table(
                batch_df.sparkSession,
                path,
                latest,
                keys,
                meta={"batch_id": batch_id},
            )

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
