"""Streaming MinHash-LSH near-duplicate detection.

The steady-state production form of near-dup dedup: documents arrive as
a stream, each is flagged against EVERYTHING SEEN SO FAR (earlier
micro-batches via the state store, earlier rows of its own batch via
in-batch ordering) — no re-hashing of the standing corpus, ever. The
batch twin is the registry key ``ext_stream_neardup`` (hash-checked vs
DuckDB); tests/test_streaming.py proves stream ≡ batch across
micro-batch splits.

Shape: ``minhash_bands`` runs map-side on each micro-batch (the same
signature pipeline as batch dedup, operators/dedup.py), then a stateful
operator keyed by (band, band_key) keeps ONE long per bucket — the
minimum doc id ever seen (the hub, exactly ``lsh_star_edges``'s
canonical member). Per incoming document the operator emits the hub as
its match (NULL = novel so far in that bucket); the per-document reduce
(min match across its bands) is a plain batch aggregation the consumer
runs per micro-batch (``neardup_flags``) — applyInPandasWithState
cannot be chained into another stateful aggregation inside one
streaming query, and the reduce needs no cross-batch state.

Scale: state is O(distinct buckets) longs — the same band index the
incremental batch form (``ext_dedup_incremental``) stores as a table —
partitioned by the (band, band_key) hash, executor-local per batch. A
production deployment pairs this with the bucket-size cap's flagged
side-output (operators/dedup.py:split_bands_by_bucket_size) if
boilerplate buckets must not dominate matches; here the hub-only state
is already linear in bucket size by construction.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from world_cup_duckdb_spark.operators.dedup import minhash_bands

if TYPE_CHECKING:
    import pandas as pd

#: One row per (document, band): the bucket's prior hub or NULL.
MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("matched_doc", T.LongType()),
    ]
)

#: Per-bucket state: the minimum doc id ever seen (the hub).
BUCKET_STATE = T.StructType([T.StructField("hub", T.LongType())])

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_document_stream(
    spark, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet document stream with a DECLARED schema (streaming readers
    never infer)."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _update_bucket(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    hub = int(state.get[0]) if state.exists else None
    band = int(key[0])
    out_doc: list[int] = []
    out_match: list[int | None] = []
    docs: set[int] = set()
    for pdf in pdfs:
        docs.update(int(d) for d in pdf["doc_id"])
    # Ascending order inside the batch: a document matches the bucket
    # minimum among strictly earlier arrivals — prior batches via state,
    # smaller ids of this batch via the inline hub update. This is the
    # deterministic arrival rule the batch twin reproduces (min bucket
    # member < doc_id), provided arrival order is id order — which the
    # equivalence test stages and production crawls approximate with
    # monotonically assigned ids.
    for d in sorted(docs):
        out_doc.append(d)
        out_match.append(hub if hub is not None and hub < d else None)
        if hub is None or d < hub:
            hub = d
    # hub stays None only when the callback fired with zero rows AND no
    # existing state (possible under future timeout configs / empty
    # pandas chunks) — int(None) would kill the streaming query, and
    # there is nothing to record anyway (ADVICE r8).
    if hub is not None:
        state.update((int(hub),))
    yield pd.DataFrame(
        {
            "doc_id": pd.array(out_doc, dtype="int64"),
            "band": pd.array([band] * len(out_doc), dtype="int32"),
            "matched_doc": pd.array(out_match, dtype="Int64"),
        }
    )


def streaming_neardup_band_matches(
    docs: DataFrame, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Per (document, band) match rows against the standing bucket
    index: (doc_id, band, matched_doc) with matched_doc = the bucket's
    prior hub, NULL when the document opens the bucket."""
    bands = minhash_bands(docs, num_hashes=num_hashes, band_size=band_size)
    return bands.groupBy("band", "band_key").applyInPandasWithState(
        _update_bucket,
        outputStructType=MATCH_SCHEMA,
        stateStructType=BUCKET_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def neardup_flags(matches: DataFrame) -> DataFrame:
    """Per-document reduce over the band matches (batch-side, run per
    micro-batch or over the collected stream): the minimum matching hub
    across the document's bands, plus the is_dup flag."""
    return (
        matches.groupBy("doc_id")
        .agg(F.min("matched_doc").alias("matched_doc"))
        .withColumn("is_dup", F.col("matched_doc").isNotNull())
    )
