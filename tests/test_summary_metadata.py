"""Summary-backed metadata: when a maintained bucket-index exists,
Storage metadata queries read it instead of scanning the log, and the
numbers agree with the scan-based answers."""

from __future__ import annotations

from broker_spark.storage.store import Storage
from broker_spark.streaming.maintenance import foreach_batch_bucket_index
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def test_summary_answers_match_scan(spark, tmp_path):
    log, summary = str(tmp_path / "log"), str(tmp_path / "summary")
    scan_st = Storage(spark, log, bucket_ms=1000)
    rows = [make_msg("s", 0, 500 + i * 700, i % 2) for i in range(12)]
    batch = spark.createDataFrame(rows, ENVELOPE)
    scan_st.store(batch)
    foreach_batch_bucket_index(summary, bucket_ms=1000)(batch, 0)

    sum_st = Storage(spark, log, bucket_ms=1000, summary_path=summary)
    assert sum_st.partition_metadata("s", 0) == scan_st.partition_metadata("s", 0)
    # per-bucket counters: records, bytes, first and last ts
    cols = ["stream_id", "partition", "bucket", "records", "size", "date_create", "max_ts"]

    def counters(st):
        return sorted(tuple(r) for r in st.bucket_index().select(*cols).collect())

    assert counters(sum_st) == counters(scan_st)


def test_summary_plan_does_not_touch_log(spark, tmp_path):
    log, summary = str(tmp_path / "log2"), str(tmp_path / "summary2")
    st = Storage(spark, log, bucket_ms=1000, summary_path=summary)
    batch = spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE)
    st.store(batch)
    foreach_batch_bucket_index(summary, bucket_ms=1000)(batch, 0)
    plan = st.bucket_index()._jdf.queryExecution().executedPlan().toString()
    # the scan must read summary columns (records), not the log (content)
    assert "records:bigint" in plan
    assert "content" not in plan and "log2" not in plan


def test_missing_summary_falls_back_to_scan(spark, tmp_path):
    st = Storage(
        spark, str(tmp_path / "log3"), bucket_ms=1000,
        summary_path=str(tmp_path / "nonexistent"),
    )
    st.store(spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE))
    assert st.partition_metadata("s", 0)["totalMessages"] == 1
