"""The broker process of the benchmark: a Spark session, the workload's
log bulk-loaded through `Storage.store`, and the real HTTP gateway
(`serving.http.serve`) with a `PublishSpool` on the write path.

Started by run.py.  It reports on stdout, one `PERFBENCH <tag> <json>`
line per event, and takes commands on stdin:

    begin   start of the measured window (resets the trace)
    end     report peak memory, the log on disk and the trace summary
    quit    flush and close the spool, stop the gateway, exit
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

from broker_spark.serving.http import serve  # noqa: E402
from broker_spark.serving.publish import ENVELOPE_DDL, PublishSpool  # noqa: E402
from broker_spark.session import get_spark  # noqa: E402
from broker_spark.storage.store import Storage  # noqa: E402
from workloads import WORKLOADS, content, generate_log  # noqa: E402

SETUP_REPEATS = 7


def emit(tag: str, obj) -> None:
    print(f"PERFBENCH {tag} {json.dumps(obj)}", flush=True)


def history_frame(log: dict, shape, seed: int) -> pd.DataFrame:
    rows = []
    for (stream, partition), msgs in log.items():
        tag = f"{stream}:{partition}"
        for m in msgs:
            rows.append((
                stream, partition, m.ts, m.seq, m.pub, m.chain, m.prev_ts,
                m.prev_seq if m.prev_ts is not None else None, 0, None, 0,
                content(seed, tag, m.n, shape.content_bytes),
            ))
    pdf = pd.DataFrame(rows, columns=[
        "stream_id", "partition", "ts", "sequence_no", "publisher_id", "msg_chain_id",
        "prev_ts", "prev_sequence_no", "signature_type", "signature", "encryption_type",
        "content",
    ])
    for col in ("ts", "prev_ts"):
        pdf[col] = pd.to_datetime(pdf[col], unit="ms", utc=True)
    pdf["prev_sequence_no"] = pdf["prev_sequence_no"].astype("Int32")
    return pdf


def log_stats(path: str) -> dict:
    files = data_bytes = total_bytes = 0
    dirs = 0
    for d, _, names in os.walk(path):
        parquet = [n for n in names if n.endswith(".parquet")]
        if parquet:
            dirs += 1
        files += len(parquet)
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            total_bytes += size
            if n.endswith(".parquet"):
                data_bytes += size
    return {"files": files, "dirs": dirs, "bytes": total_bytes, "parquet_bytes": data_bytes}


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--anchor", type=int, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    work = os.path.abspath(args.workdir)

    conf = {}
    if args.trace:
        # the tracer counts each request's jobs through the status tracker,
        # which forgets all but the last 1000 jobs by default
        conf = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}
    t0 = time.monotonic()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={
            **conf,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp: the JVM is killed, not stopped
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.monotonic() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    log = generate_log(wl.shape, args.seed, args.anchor)
    pdf = history_frame(log, wl.shape, args.seed)

    # Set-up, repeated: bulk load a fresh log and start the gateway on it.
    # The last copy serves the run; the earlier ones are removed at once,
    # while their files are still only in the page cache.
    setup_s = []
    for k in range(SETUP_REPEATS):
        path = os.path.join(work, f"log-{k}")
        t = time.monotonic()
        storage = Storage(spark, path)
        storage.store(spark.createDataFrame(pdf, ENVELOPE_DDL))
        spool = PublishSpool(storage, partition_count=wl.shape.partitions)
        server = serve(storage, spool=spool)
        setup_s.append(time.monotonic() - t)
        if k < SETUP_REPEATS - 1:
            server.shutdown()
            server.server_close()
            spool.close()
            shutil.rmtree(path)
    port = server.server_address[1]

    tracer = None
    if args.trace:
        from layertrace import Tracer

        tracer = Tracer(spark.sparkContext, path)
        tracer.install()
    emit("READY", {
        "port": port,
        "spark_start_s": spark_start_s,
        "setup_s": setup_s,
    })

    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "begin":
                if tracer is not None:
                    tracer.begin()
                emit("BEGUN", {})
            elif cmd == "end":
                result = {
                    "log": log_stats(path),
                    "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                    "jvm_peak_rss_mb": jvm_peak_rss_mb(jvm_pid),
                }
                if tracer is not None:
                    time.sleep(0.5)  # let the listener bus deliver the last job events
                    result["trace"] = tracer.summary()
                    if args.trace_out:
                        tracer.dump(args.trace_out)
                emit("RESULT", result)
            elif cmd == "quit":
                break
    finally:
        if tracer is not None:
            tracer.uninstall()
        spool.close()
        server.shutdown()
        server.server_close()
    # Every acknowledged publish is on disk now.  The Spark session holds
    # only scratch state under the work directory, so the broker leaves
    # without stopping it; run.py kills and reaps what remains of it.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
