"""Streaming incremental view maintenance: one event stream keeps BOTH a
versioned fact table and a materialized join view current, exactly once.

Per micro-batch the sink (a) reduces the batch to keep-latest rows per
key, (b) MERGEs them into the versioned fact table, (c) turns that
commit's snapshot diff into a CDC batch, and (d) applies the IVM delta
rule to the join view (operators/ivm.py). Both commits record the
micro-batch id in their manifests.

The two-table exactly-once subtlety: a crash can land BETWEEN the fact
commit and the view commit, so one fence is not enough. Each table is
fenced separately — on replay, a batch already applied to the fact table
is NOT re-merged; instead its original snapshot diff is recovered from
the manifest that recorded its batch id, and only the view (which is
behind) catches up. Replaying a batch both tables have seen is a no-op.
A single shared fence would silently drop the view's delta: the replayed
merge would be a content no-op, its diff empty, and the view would fence
the batch id while having never applied its changes.

Scale: the per-batch work is CDC-batch-sized (keep-latest reduction,
delta ⋈ dim with AQE broadcasting the delta, pk anti-join on the view) —
the posture of operators/ivm.py per trigger, with stream state living in
the tables + checkpoint, not in executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from world_cup_duckdb_spark.operators.ivm import maintain_join_view
from world_cup_duckdb_spark.operators.lakehouse import (
    latest_version,
    merge_table,
    table_history,
    write_table,
)
from world_cup_duckdb_spark.streaming.table_sink import (
    _last_batch_id,
    _keep_latest,
)


def _version_of_batch(path: str, batch_id: int) -> int:
    for m in table_history(path):
        if m.get("meta", {}).get("batch_id") == batch_id:
            return m["version"]
    raise LookupError(f"batch {batch_id} not found in {path} history")


def stream_maintain_join_view(
    events: DataFrame,
    fact_path: str,
    view_path: str,
    checkpoint: str,
    dim: DataFrame,
    join_key: str,
    keys: list[str] | None = None,
) -> StreamingQuery:
    """Maintain `fact` (keyed latest-state of the event stream, as in
    table_sink.stream_upsert_table) AND the materialized view
    fact ⋈ dim, incrementally and exactly-once, from one stream."""
    pk = keys or ["user_id", "event_type"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        view_fence = _last_batch_id(view_path)
        if view_fence is not None and batch_id <= view_fence:
            return  # both tables already have this batch
        spark = batch_df.sparkSession
        latest = _keep_latest(batch_df, pk)
        fact_fence = _last_batch_id(fact_path)
        if fact_fence is None:
            write_table(latest, fact_path, meta={"batch_id": batch_id})
            write_table(
                latest.join(dim, on=join_key),
                view_path,
                meta={"batch_id": batch_id},
            )
            return
        if batch_id > fact_fence:
            v0 = latest_version(fact_path)
            merge_table(
                spark, fact_path, latest, pk, meta={"batch_id": batch_id}
            )
            v1 = v0 + 1
        else:
            # fact has it; the view crashed behind — recover the diff.
            v1 = _version_of_batch(fact_path, batch_id)
            if v1 == 0:
                # The crash landed between the FIRST fact write and the
                # first view write: there is no predecessor version to
                # diff against (v0 would be -1 and the manifest read
                # would fail forever). The recovery is the initial view
                # build from that first fact snapshot.
                from world_cup_duckdb_spark.operators.lakehouse import (
                    read_table,
                )

                write_table(
                    read_table(spark, fact_path, version=0).join(
                        dim, on=join_key
                    ),
                    view_path,
                    meta={"batch_id": batch_id},
                )
                return
            v0 = v1 - 1
        from world_cup_duckdb_spark.operators.lakehouse import diff_versions

        maintain_join_view(
            spark,
            view_path,
            diff_versions(spark, fact_path, v0, v1),
            dim,
            join_key=join_key,
            pk=pk,
            meta={"batch_id": batch_id},
        )

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
