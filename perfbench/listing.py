"""Log-open cost against bucket depth: the measurement behind tail-reads'
48 buckets per stream-partition.

    python3 perfbench/listing.py --buckets 24 32 33 48

Run from the repository root.  For each depth it bulk-loads a log of
PARTITIONS stream-partitions through `Storage.store`, then opens it
REPEATS times with `read_stream_data` (what `Storage` calls on every
request) and reports the median time and the Spark jobs each open runs.
Scratch goes to `.perfbench/listing/` and is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from broker_spark.serving.publish import ENVELOPE_DDL  # noqa: E402
from broker_spark.session import get_spark  # noqa: E402
from broker_spark.storage.store import Storage  # noqa: E402
from broker_spark.storage.writer import read_stream_data  # noqa: E402
from server import history_frame  # noqa: E402
from workloads import FIXED_ANCHOR_MS, LogShape, generate_log  # noqa: E402

PARTITIONS = 4
REPEATS = 7


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--buckets", type=int, nargs="+", required=True)
    args = ap.parse_args()
    work = os.path.abspath(os.path.join(".perfbench", "listing"))
    os.makedirs(work, exist_ok=True)
    spark = get_spark(app_name="perfbench-listing", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.local.dir": os.path.join(work, "spark-local")})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    print("buckets  dirs  open_ms(median)  jobs_per_open")
    try:
        for b in args.buckets:
            shape = LogShape(1, PARTITIONS, b, 20)
            path = os.path.join(work, f"log-{b}")
            pdf = history_frame(generate_log(shape, 1, FIXED_ANCHOR_MS), shape, 1)
            Storage(spark, path).store(spark.createDataFrame(pdf, ENVELOPE_DDL))
            times, jobs = [], []
            for k in range(REPEATS):
                group = f"open-{b}-{k}"
                sc.setJobGroup(group, "log open")
                t = time.monotonic()
                read_stream_data(spark, path)
                times.append(1000 * (time.monotonic() - t))
                time.sleep(0.2)  # let the listener bus report the jobs
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            print(f"{b:7d}  {b * PARTITIONS:4d}  {statistics.median(times[1:]):15.1f}  "
                  f"{statistics.median(jobs):13.0f}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
