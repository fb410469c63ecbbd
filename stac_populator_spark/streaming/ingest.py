"""Structured Streaming ingest variant (SURVEY.md §2.8).

The reference is pure batch with file-level resume; the north_rule asks
for checkpoint resumability, which the batch path provides via
sources.checkpoint. This module adds the incremental-ingest shape: new
page files landing in a directory (the stand-in for an Iceberg streaming
read / Kafka WARC feed) stream through the *same* extraction +
cell-encode + PIP-join pipeline — transformations are shared, only the
source/sink differ — with exactly-once output via the streaming
checkpoint. Every query runs with ``trigger(availableNow=True)``: it
drains the files present when it starts, in micro-batches, then stops;
the checkpoint makes the next start pick up only the new files.

Micro-batch semantics: the PIP join is stateless (broadcast dim), so no
watermark is needed; the incremental collection-extent aggregation (the
reference's during-ingest update, populators.py:253-255) runs as one
complete-mode result over the micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import build_items

PAGES_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"

# hash buckets of the upsert table: a micro-batch rewrites only the
# buckets its keys touch
UPSERT_BUCKETS = 64


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def stream_items(
    pages_stream: DataFrame,
    cover: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """pages stream → STAC items parquet sink, exactly-once via checkpoint;
    drains what is available, then stops."""
    return (
        build_items(pages_stream, cover)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_collection_counts(
    pages_stream: DataFrame,
    cover: DataFrame,
    checkpoint_dir: str,
):
    """Incremental per-collection item counts + extents in update mode —
    the streaming analogue of the reference's during-ingest collection
    update (populators.py:253-255, 302-305). Returns a streaming query
    writing to an in-memory table named 'collection_counts'."""
    from pyspark.sql import functions as F

    from ..operators.collection_agg import collection_extent

    # extents aggregate only footprint-matched items (same rule as the
    # batch run_pipeline); null-collection items still flow to the sink
    items = build_items(pages_stream, cover).filter(F.col("collection_id").isNotNull())
    agg = collection_extent(items)
    return (
        agg.writeStream.format("memory")
        .queryName("collection_counts")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_items_upsert(
    pages_stream: DataFrame,
    cover: DataFrame,
    table_path: str,
    checkpoint_dir: str,
):
    """Streaming MERGE sink — the streaming form of the reference's
    POST → 409 → PUT upsert loop (api_requests.py:102-149): each
    micro-batch upserts into the keyed items table via foreachBatch +
    sources.merge.merge_upsert_bucketed, so a re-crawled url REPLACES its
    previous item row instead of appending a duplicate — and the merge
    reads/rewrites ONLY the hash buckets the batch touches (O(batch) per
    trigger, never O(table)).

    Key = (id, collection_id): a page overlapping k footprints is k item
    rows, each its own upsert target. The streaming checkpoint makes the
    query resumable; merge_upsert is idempotent, so a micro-batch replay
    after a crash converges to the same table (at-least-once delivery +
    idempotent sink = effectively exactly-once)."""
    from pyspark.sql import functions as F

    from ..sources.merge import merge_upsert_bucketed

    items = build_items(pages_stream, cover).withColumn(
        "merge_key",
        F.concat_ws("|", F.col("id"), F.coalesce(F.col("collection_id"), F.lit(""))),
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # a micro-batch can contain the same url twice (original + re-crawl
        # in one trigger): last-write-wins on warc_ts, id tie-break — the
        # winner is deterministic, never dropDuplicates' arbitrary pick
        from pyspark.sql import Window

        w = Window.partitionBy("merge_key").orderBy(
            F.col("warc_ts").desc_nulls_last(), F.col("id").asc()
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merge_upsert_bucketed(
            batch_df.sparkSession, table_path, latest, key="merge_key", n_buckets=UPSERT_BUCKETS
        )

    return (
        items.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
