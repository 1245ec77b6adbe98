"""Faults at the serving boundary.  Through the real HTTP gateway, a
storage failure before the first byte is a logged 500 and one after it
ends the connection without the chunked terminator
(DataQueryEndpoints.ts:86-99); a malformed control message is answered,
and the connection survives it."""

from __future__ import annotations

import json
import logging
import os
import socket
import urllib.error
import urllib.request

import pytest
from py4j.protocol import Py4JJavaError

from broker_spark.serving import http as serving_http
from broker_spark.serving.tcp import serve_control
from broker_spark.storage.store import Storage
from tests.conftest import make_msg

ENVELOPE = (
    "stream_id string, partition int, ts timestamp, sequence_no int, "
    "publisher_id string, msg_chain_id string, prev_ts timestamp, "
    "prev_sequence_no int, signature_type int, signature string, "
    "encryption_type int, content string"
)


def _corrupt_log(path: str) -> None:
    bucket = os.path.join(path, "stream_id=s", "partition=0", "bucket=0")
    os.makedirs(bucket)
    with open(os.path.join(bucket, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file" * 8)


def test_corrupt_log_is_a_logged_500(spark, tmp_path, caplog):
    """An unreadable log is not an empty one: a resend or metadata request
    answers 500 with the cause logged, and an idempotent store refuses to
    write unchecked."""
    path = str(tmp_path / "log")
    _corrupt_log(path)
    st = Storage(spark, path)
    server = serving_http.serve(st)
    host, port = server.server_address
    try:
        for route in ("data/partitions/0/last", "metadata/partitions/0"):
            with caplog.at_level(logging.ERROR, logger="broker_spark.serving.http"):
                with pytest.raises(urllib.error.HTTPError) as err:
                    urllib.request.urlopen(f"http://{host}:{port}/streams/s/{route}", timeout=120)
            assert err.value.code == 500
            assert json.loads(err.value.read()) == {"error": "Failed to fetch data!"}
        failures = [r for r in caplog.records if r.name == "broker_spark.serving.http"]
        assert len(failures) == 2 and all(r.exc_info is not None for r in failures)
        assert "Traceback" in caplog.text
    finally:
        server.shutdown()
        server.server_close()
    batch = spark.createDataFrame([make_msg("s", 0, 1000, 0)], ENVELOPE)
    with pytest.raises(Py4JJavaError):
        st.store_idempotent(batch)


class _FailsMidStream(Storage):
    def stream_rows(self, df):
        rows = super().stream_rows(df)
        yield next(rows)
        raise RuntimeError("storage lost mid-stream")


def test_mid_stream_failure_leaves_body_unterminated(spark, tmp_path):
    st = _FailsMidStream(spark, str(tmp_path / "log"))
    st.store(spark.createDataFrame([make_msg("s", 0, 1000 * i, 0) for i in range(3)], ENVELOPE))
    server = serving_http.serve(st)
    host, port = server.server_address
    try:
        with socket.create_connection((host, port), timeout=120) as sock:
            sock.sendall(
                b"GET /streams/s/data/partitions/0/last?count=3 HTTP/1.1\r\n"
                b"Host: test\r\n\r\n"
            )
            got = b""
            while chunk := sock.recv(65536):  # b"": the server closed it
                got += chunk
    finally:
        server.shutdown()
        server.server_close()
    head, _, body = got.partition(b"\r\n\r\n")
    assert head.startswith(b"HTTP/1.1 200")
    assert b"Transfer-Encoding: chunked" in head
    assert b'["s",0,0,0,"publisher","1"]' in body  # the first row went out ...
    assert not body.endswith(b"0\r\n\r\n")  # ... but the body never ended


def test_non_object_control_message_is_invalid_request(spark, tmp_path):
    server = serve_control(Storage(spark, str(tmp_path / "log")))
    try:
        with socket.create_connection(server.server_address, timeout=60) as sock:
            f = sock.makefile("rwb")
            f.write(b'[1]\n{"type": "Nope", "requestId": "r1"}\n')
            f.flush()
            first, second = json.loads(f.readline()), json.loads(f.readline())
    finally:
        server.shutdown()
        server.server_close()
    assert first["errorCode"] == "INVALID_REQUEST"
    assert second["requestId"] == "r1" and second["errorCode"] == "INVALID_REQUEST"
