"""Storage facade: the reference's `Storage` class as a thin API over the
partitioned parquet log + the resend/metadata operators.

Mirrors the public surface of src/storage/Storage.ts:
requestLast / requestFrom / requestRange (101-435), each returning a
lazily-planned DataFrame the serving layer consumes (`toLocalIterator()`
for streamed delivery with backpressure, the analog of the reference's
pause/resume row streaming at 412-435), and the first/last/count/bytes
metadata (452-576) as one `partition_metadata` answer.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broker_spark.operators import metadata, resend
from broker_spark.schema import DEFAULT_BUCKET_MS
from broker_spark.storage.writer import read_stream_data, write_stream_data

# What Spark says when asked to read a table nobody has written yet.
_NOT_WRITTEN_YET = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_if_written(read: Callable[[], DataFrame]) -> DataFrame | None:
    """`read()`, or None when its table does not exist yet (no directory,
    or one with no data files).  Any other failure — a corrupt file, an
    unreadable directory — raises: a broken log must not pass for an empty
    one."""
    try:
        return read()
    except AnalysisException as e:
        if e.getCondition() in _NOT_WRITTEN_YET:
            return None
        raise


class Storage:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_ms: int = DEFAULT_BUCKET_MS,
        summary_path: str | None = None,
    ) -> None:
        """`summary_path`: optional bucket-index summary table maintained by
        `streaming.maintenance.foreach_batch_bucket_index`.  When present,
        metadata queries read the summary (a few rows per bucket) instead
        of scanning the log — the reference's bucket-counter strategy
        (src/storage/Storage.ts:520-576), and the only sane answer at
        100 TB."""
        self.spark = spark
        self.path = path
        self.bucket_ms = bucket_ms
        self.summary_path = summary_path

    def _summary(self) -> DataFrame | None:
        """The bucket-index summary, or None (not configured or not
        materialized yet) to fall back to scanning the log."""
        if self.summary_path is None:
            return None
        return read_if_written(lambda: self.spark.read.parquet(self.summary_path))

    # -- write path ---------------------------------------------------------
    def store(self, df: DataFrame) -> None:
        """Append a batch of messages (src/storage/Storage.ts:65-99; the
        bucket/batch machinery is subsumed by derivable partitions)."""
        write_stream_data(df, self.path, bucket_ms=self.bucket_ms)

    def store_idempotent(self, df: DataFrame) -> None:
        """Append with primary-key dedup — Cassandra INSERT semantics
        (re-publishing a message id is a no-op, src/storage/
        BatchManager.ts:8-10 primary key).

        Parquet append would duplicate, so: dedup within the batch, then
        anti-join against the EXISTING rows of only the affected
        (stream, partition, bucket) partitions — directory-pruned, so the
        read side is proportional to the buckets being written, never the
        log.  Concurrent writers to the same bucket still need a
        table-format transaction (Delta/Iceberg) — single-writer-per-
        partition is this layout's contract, as in the reference.
        """
        from broker_spark.schema import MESSAGE_ID_COLUMNS, with_bucket

        incoming = with_bucket(df, bucket_ms=self.bucket_ms).dropDuplicates(
            MESSAGE_ID_COLUMNS
        )
        existing = read_if_written(lambda: read_stream_data(self.spark, self.path))
        if existing is None:  # first write: nothing to dedup against
            write_stream_data(df.dropDuplicates(MESSAGE_ID_COLUMNS), self.path,
                              bucket_ms=self.bucket_ms)
            return
        touched = [r["bucket"] for r in incoming.select("bucket").distinct().collect()]
        scoped = existing.filter(F.col("bucket").isin(touched)).select(
            *MESSAGE_ID_COLUMNS
        )
        fresh = incoming.join(scoped, MESSAGE_ID_COLUMNS, "left_anti").drop("bucket")
        write_stream_data(fresh, self.path, bucket_ms=self.bucket_ms)

    # -- read path ----------------------------------------------------------
    def _log(self) -> DataFrame:
        """The message log; a not-yet-written log reads as an empty frame
        (a fresh broker answers resends with NoResend, it doesn't 500 —
        cf. the reference's empty-result tests, Storage.test.ts:95-121)."""
        log = read_if_written(lambda: read_stream_data(self.spark, self.path))
        if log is not None:
            return log
        from broker_spark.schema import STREAM_MESSAGE_SCHEMA

        empty = self.spark.createDataFrame([], STREAM_MESSAGE_SCHEMA)
        return empty.withColumn("bucket", F.lit(0).cast("long")).filter(F.lit(False))

    def request_last(self, stream_id: str, partition: int, n: int) -> DataFrame:
        return resend.request_last(
            self._log(), stream_id, partition, n, bucket_ms=self.bucket_ms
        )

    def request_from(
        self,
        stream_id: str,
        partition: int,
        from_ms: int,
        from_seq: int = 0,
        publisher_id: str | None = None,
        msg_chain_id: str | None = None,
    ) -> DataFrame:
        return resend.request_from(
            self._log(),
            stream_id,
            partition,
            from_ms,
            from_seq,
            publisher_id,
            msg_chain_id,
            bucket_ms=self.bucket_ms,
        )

    def request_range(
        self,
        stream_id: str,
        partition: int,
        from_ms: int,
        from_seq: int,
        to_ms: int,
        to_seq: int,
        publisher_id: str | None = None,
        msg_chain_id: str | None = None,
    ) -> DataFrame:
        return resend.request_range(
            self._log(),
            stream_id,
            partition,
            from_ms,
            from_seq,
            to_ms,
            to_seq,
            publisher_id,
            msg_chain_id,
            bucket_ms=self.bucket_ms,
        )

    # -- streamed delivery (W6 backpressure analog) -------------------------
    def stream_rows(self, df: DataFrame) -> Iterator:
        """Row-at-a-time delivery without collect(): `toLocalIterator`
        fetches one partition at a time — the engine-side equivalent of the
        reference's pause/resume streaming (src/storage/Storage.ts:418-429)."""
        return df.toLocalIterator(prefetchPartitions=True)

    # -- metadata (src/http/DataMetadataEndpoints.ts:21-26) -----------------
    def bucket_index(self) -> DataFrame:
        s = self._summary()
        if s is not None:
            return s
        return metadata.bucket_index(self._log(), bucket_ms=self.bucket_ms)

    def partition_metadata(self, stream_id: str, partition: int) -> dict:
        """The metadata-endpoint payload (src/http/DataMetadataEndpoints.ts:
        21-26), one aggregation pass over the summary when there is one,
        else over the log; values are plain Python for JSON."""
        s = self._summary()
        if s is None:
            agg = metadata.partition_metadata(self._log(), stream_id, partition)
        else:
            agg = s.filter(
                (F.col("stream_id") == stream_id) & (F.col("partition") == partition)
            ).agg(
                F.sum("size").alias("totalBytes"),
                F.sum("records").alias("totalMessages"),
                F.unix_millis(F.min("date_create")).alias("firstMessage"),
                F.unix_millis(F.max("max_ts")).alias("lastMessage"),
            )
        row = agg.collect()[0]
        return {
            "totalBytes": row["totalBytes"] or 0,
            "totalMessages": row["totalMessages"] or 0,
            "firstMessage": row["firstMessage"],
            "lastMessage": row["lastMessage"],
        }
