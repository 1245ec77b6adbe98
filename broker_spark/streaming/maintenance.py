"""Streaming maintenance of the bucket-index summary table (A8).

The reference UPSERTs running (records, size) counters per bucket every
500 ms (src/storage/BucketManager.ts:325-344) so metadata queries never
scan data (src/storage/Storage.ts:520-576).  The Spark analog: a
foreachBatch hook that merges each micro-batch's per-bucket partials into
a small summary parquet table.  At 100 TB the summary is what
count/bytes/first/last read — a few rows per (stream, partition, bucket),
not the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from broker_spark.schema import DEFAULT_BUCKET_MS, bucket_of
from broker_spark.storage.store import read_if_written

SUMMARY_SCHEMA = (
    "stream_id string, partition int, bucket long, records bigint,"
    " size bigint, date_create timestamp, max_ts timestamp"
)


def batch_bucket_partials(batch: DataFrame, bucket_ms: int = DEFAULT_BUCKET_MS) -> DataFrame:
    return (
        batch.withColumn("bucket", bucket_of(F.col("ts"), bucket_ms))
        .groupBy("stream_id", "partition", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("records"),
            F.sum(F.octet_length("content")).cast("long").alias("size"),
            F.min("ts").alias("date_create"),
            F.max("ts").alias("max_ts"),
        )
    )


def merge_summary(existing: DataFrame, partials: DataFrame) -> DataFrame:
    """Counter merge: counts/sizes add, date_create takes min, max_ts max —
    the UPSERT `records = records + ?` semantics as a groupBy."""
    return (
        existing.unionByName(partials)
        .groupBy("stream_id", "partition", "bucket")
        .agg(
            F.sum("records").cast("long").alias("records"),
            F.sum("size").cast("long").alias("size"),
            F.min("date_create").alias("date_create"),
            F.max("max_ts").alias("max_ts"),
        )
    )


def foreach_batch_bucket_index(summary_path: str, bucket_ms: int = DEFAULT_BUCKET_MS):
    """foreachBatch hook maintaining the summary at `summary_path`.

    The summary is tiny (one row per open bucket), so read-merge-overwrite
    per micro-batch is O(summary), not O(log).  Exactly-once caveat: a
    replayed batch double-counts; in production pair this with Delta MERGE
    keyed on (batch_id) or recompute-on-read (operators.metadata.
    bucket_index) when exactness matters.
    """

    def _run(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        partials = batch_bucket_partials(batch, bucket_ms)
        existing = read_if_written(lambda: spark.read.parquet(summary_path))
        merged = partials if existing is None else merge_summary(existing, partials)
        # collect-then-rewrite keeps this atomic-enough for a small summary;
        # localCheckpoint breaks lineage so the overwrite doesn't read its
        # own output mid-write.
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(summary_path)

    return _run
