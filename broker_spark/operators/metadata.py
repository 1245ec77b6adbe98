"""Metadata aggregates (SURVEY §2.4 A1-A8).

The reference answers count/bytes/first/last from the small `bucket`
counter table (`src/storage/Storage.ts:452-576`,
`src/http/DataMetadataEndpoints.ts:21-26`).  On Spark the same numbers
come from either (a) a metadata-only parquet scan — `count()` reads footer
row counts, min/max read row-group stats (spark.sql.parquet.aggregatePushdown)
— or (b) the `bucket_index` summary DataFrame below, the direct analog of
the reference's bucket table, cheap to maintain per micro-batch and the
right answer at 100 TB (keep a summary table; never full-scan for a count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from broker_spark.schema import DEFAULT_BUCKET_MS, bucket_of


def bucket_index(df: DataFrame, bucket_ms: int = DEFAULT_BUCKET_MS) -> DataFrame:
    """A8: the `bucket` summary table, derived instead of hand-maintained.

    Reference columns `stream_id, partition, date_create, id, records, size`
    with counters UPSERTed every 500 ms (src/storage/BucketManager.ts:
    232,302,325-344).  Here it is one aggregation; in streaming it is the
    same aggregation merged in foreachBatch.
    """
    with_b = df.withColumn("bucket", bucket_of(F.col("ts"), bucket_ms))
    return with_b.groupBy("stream_id", "partition", "bucket").agg(
        F.count(F.lit(1)).alias("records"),
        F.sum(F.octet_length(F.col("content"))).alias("size"),
        F.min("ts").alias("date_create"),
        F.max("ts").alias("max_ts"),
    )


def partition_metadata(df: DataFrame, stream_id: str, partition: int) -> DataFrame:
    """The DataMetadataEndpoints response (src/http/DataMetadataEndpoints.ts:
    21-26) — totalBytes / totalMessages / firstMessage / lastMessage — as
    ONE aggregation pass (the reference issues four separate queries)."""
    return (
        df.filter((F.col("stream_id") == stream_id) & (F.col("partition") == partition))
        .agg(
            F.sum(F.octet_length(F.col("content"))).alias("totalBytes"),
            F.count(F.lit(1)).alias("totalMessages"),
            F.unix_millis(F.min("ts")).alias("firstMessage"),
            F.unix_millis(F.max("ts")).alias("lastMessage"),
        )
    )


def distinct_stream_partitions(df: DataFrame) -> DataFrame:
    """A7: `SELECT DISTINCT stream_id, partition`
    (src/storage/DeleteExpiredCmd.ts:73)."""
    return df.select("stream_id", "partition").distinct()
