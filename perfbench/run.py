"""End-to-end broker benchmark: HTTP publish -> bucketed log -> HTTP resend.

    python3 perfbench/run.py --workload tail-reads --seed 1 --seconds 20 --trace 0

Run from the repository root.  Starts the broker (perfbench/server.py: a
Spark session, the workload's seeded log bulk-loaded through
`Storage.store`, the `serving.http` gateway with a `PublishSpool`), drives
it from this process for `--seconds`, checks every answer against the
model of the log, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the layers are wrapped in spans (perfbench/layertrace.py)
and the metrics are the per-layer ones.  The line before it is a detail
record with every number behind them (sample counts, the percentile each
tail is taken at, publish metrics, per-kind splits).  Scratch files live
in `.perfbench/` under the current directory and are removed at exit,
except the span dump of traced runs.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import multiprocessing as mp
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from multiprocessing import resource_tracker

from client import OpenLoop, closed_client, warm_up
from stats import median, tail
from workloads import CLOSED_CLIENTS, WORKLOADS

SERVER_READY_TIMEOUT_S = 600
PR_SET_CHILD_SUBREAPER = 36
RESEND = ("last", "from", "range")
#: mix indices answered before the clock starts: two rounds of the tail
#: mix, one of the bulk mix.  After only one request of each kind the JVM
#: was still warming up and slowed the first seconds of the window.
WARM_UP = tuple(range(8))


class Broker:
    """The broker subprocess, in its own process group with the JVM under
    it; stop() kills that group and then every process it left behind."""

    def __init__(self, argv: list[str], cwd: str, env: dict, log_path: str) -> None:
        self._log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._pump, daemon=True)
        self._reader.start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PERFBENCH "):
                self._lines.put(line)
        self._lines.put(None)

    def wait(self, tag: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"broker did not report {tag} within {timeout:.0f} s") from None
            if line is None:
                raise RuntimeError(f"broker exited (code {self.proc.wait()}) before {tag}")
            _, got, payload = line.split(" ", 2)
            if got == tag:
                return json.loads(payload)

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stop(self) -> None:
        """Ask the broker to flush and close, then kill what is left of it
        (the JVM and Spark's Python workers) and wait until all of it is
        gone."""
        t = time.monotonic()
        try:
            self.send("quit")
            self.proc.stdin.close()
        except (BrokenPipeError, ValueError):
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        reap_descendants()
        self.exit_s = time.monotonic() - t
        self._log.close()


def become_subreaper() -> None:
    """Adopt every orphaned descendant.  Spark's Python daemon moves to a
    process group of its own and outlives the JVM that started it; as a
    subreaper this process inherits it and can kill it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def reap_descendants() -> None:
    """Stop multiprocessing's resource tracker, then kill and wait for every
    child until none is left (the children of a killed one are adopted, see
    become_subreaper, and go in the next round)."""
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if tracker is not None and getattr(tracker, "_pid", None) is not None:
        tracker._stop()
    while kids := _children():
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def run_closed(port: int, name: str, seed: int, anchor: int, seconds: float, begin) -> tuple:
    """Run the closed loop; `begin()` is called once every client has
    warmed up, just before the clock starts.  -> (warm-up, measured) samples."""
    ctx = mp.get_context("spawn")
    counter = ctx.Value("q", 0)
    window = ctx.Array("d", 2)
    ready, go = ctx.Semaphore(0), ctx.Event()
    out = ctx.Queue()
    procs = [
        ctx.Process(target=closed_client,
                    args=(port, name, seed, anchor, WARM_UP[c::CLOSED_CLIENTS], window,
                          ready, go, counter, out))
        for c in range(CLOSED_CLIENTS)
    ]
    for p in procs:
        p.start()
    warm, samples = [], []
    try:
        for _ in procs:
            if not ready.acquire(timeout=300):
                raise RuntimeError("a client process did not warm up")
        begin()
        window[0] = time.monotonic() + 0.05
        window[1] = window[0] + seconds
        go.set()
        for _ in procs:
            w, s = out.get(timeout=seconds + 200)
            warm += w
            samples += s
    finally:
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.kill()
                p.join()
    return warm, samples


def ms(x: float) -> float:
    return 1000.0 * x


def summarize(samples: list, start: float) -> dict:
    """End-to-end numbers from the measured samples (timed from send in a
    closed loop, from the due time in an open loop)."""
    d: dict = {"counts": {}, "tail_pct": {}}

    def timing(label, values):
        d["counts"][label] = len(values)
        d[f"{label}_p50_ms"] = median(values)
        t = tail(values)
        d[f"{label}_tail_ms"], d["tail_pct"][label] = t if t else (None, None)

    d["latencies_ms"] = {}
    d["ttfb_ms"] = {}
    for s in samples:
        d["latencies_ms"].setdefault(s.kind, []).append(round(ms(s.t_end - s.t0), 1))
        d["ttfb_ms"].setdefault(s.kind, []).append(round(ms(s.t_ttfb - s.t0), 1))
    resend = [s for s in samples if s.kind in RESEND]
    meta = [s for s in samples if s.kind == "metadata"]
    pubs = [s for s in samples if s.kind == "publish"]
    timing("resend", [ms(s.t_end - s.t0) for s in resend])
    d["resend_ttfb_p50_ms"] = median([ms(s.t_ttfb - s.t0) for s in resend])
    timing("metadata", [ms(s.t_end - s.t0) for s in meta])
    for kind in RESEND:
        d[f"{kind}_p50_ms"] = median([ms(s.t_end - s.t0) for s in resend if s.kind == kind])
    reads = resend + meta
    if reads:
        window = max(s.t_end for s in reads) - start
        d["resend_req_per_s"] = len(resend) / window
        d["resend_rows_per_s"] = sum(s.rows for s in resend) / window
    if pubs:
        timing("publish", [ms(s.t_end - s.t0) for s in pubs])
        acked = [s for s in pubs if s.ok]
        d["publish_msgs_per_s"] = len(acked) / (max(s.t_end for s in pubs) - start)
    return d


def per_layer(trace: dict, samples: list, detail: dict) -> dict:
    """The per-layer metrics of a traced run."""
    pk = trace["per_kind"]

    def pooled(kinds, key):
        return [v for k in kinds for v in pk.get(k, {}).get(key, [])]

    def m(values):
        return median(values) or 0.0

    resend_rows = sum(pooled(RESEND, "rows"))
    handler = trace["handler_ms"]
    wait = [ms(s.t_end - s.t_send) - handler[s.rid] for s in samples
            if s.kind in RESEND and s.rid in handler]
    out = {
        "serving.http.handler_ms": (m(pooled(RESEND, "handler_ms")), "ms"),
        "serving.http.wait_ms": (m(wait), "ms"),
        "serving.http.deliver_ms": (m(pooled(RESEND, "deliver_ms")), "ms"),
        "serving.http.chunks_per_request": (m(pooled(RESEND, "chunks")), "count"),
        "serving.formats.frame_ms": (m(pooled(RESEND, "frame_ms")), "ms"),
        "serving.formats.bytes_per_message": (
            sum(pooled(RESEND, "bytes")) / resend_rows if resend_rows else 0.0, "B"),
        "storage.store.log_open_ms": (m(pooled(RESEND + ("metadata",), "log_open_ms")), "ms"),
        "storage.store.log_open_jobs": (m(pooled(RESEND + ("metadata",), "log_open_jobs")), "count"),
        "storage.store.first_row_ms": (m(pooled(RESEND, "first_row_ms")), "ms"),
        "storage.store.drain_ms": (m(pooled(RESEND, "drain_ms")), "ms"),
        "operators.resend.build_ms": (m(pooled(RESEND, "build_ms")), "ms"),
        "operators.metadata.build_ms": (m(pooled(("metadata",), "build_ms")), "ms"),
    }
    for what in ("jobs", "stages", "tasks"):
        for kind in RESEND + ("metadata",):
            out[f"spark.{what}_per_request.{kind}"] = (m(pk.get(kind, {}).get(what, [])), "count")
        out[f"spark.{what}_per_request.flush"] = (m(trace[f"flush_{what}"]), "count")
    n_pub = trace["publishes"]
    out.update({
        "serving.publish.publish_ms": (m(pooled(("publish",), "publish_ms")), "ms"),
        "serving.publish.blocked_share": (trace["publishes_blocked"] / n_pub if n_pub else 0.0,
                                          "ratio"),
        "serving.publish.flush_ms": (m(trace["flush_ms"]), "ms"),
        "serving.publish.messages_per_flush": (m(trace["messages_per_flush"]), "count"),
        "storage.writer.write_ms": (m(trace["write_ms"]), "ms"),
        "storage.writer.files_per_flush": (m(trace["files_per_write"]), "count"),
        "storage.writer.files_total": (sum(trace["files_per_write"]), "count"),
        "storage.log_dirs": (detail["log"]["dirs"], "count"),
    })
    detail["blocked_base"] = {"publishes": n_pub, "overlapping_a_flush": trace["publishes_blocked"]}
    detail["per_kind_ms"] = {
        kind: {key: m(vals) for key, vals in d.items()} for kind, d in pk.items()
    }
    return out


E2E_UNITS = {
    "setup_s": "s",
    "resend_p50_ms": "ms",
    "resend_ttfb_p50_ms": "ms",
    "resend_req_per_s": "1/s",
    "log_bytes_per_content_byte": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "broker_spark", "serving", "http.py")):
        print("perfbench: broker_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    become_subreaper()
    wl = WORKLOADS[args.workload]
    here = os.path.dirname(os.path.abspath(__file__))
    scratch = os.path.join(root, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    anchor = wl.anchor(int(time.time() * 1000))
    cores = min(4, os.cpu_count() or 1)
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # get_spark's 8 GB default heap is far more than these logs need
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
    })
    trace_out = os.path.join(scratch, "traces", f"{args.workload}-seed{args.seed}.json")
    argv_server = [
        sys.executable, os.path.join(here, "server.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--anchor", str(anchor), "--workdir", work,
        "--cores", str(cores), "--trace", str(args.trace), "--trace-out", trace_out,
    ]
    broker = Broker(argv_server, work, env, os.path.join(scratch, f"{args.workload}.server.log"))
    visible_ms: list = []
    late_ms: list = []
    readback: list = []
    phases = {"launch": time.monotonic()}
    try:
        ready = broker.wait("READY", SERVER_READY_TIMEOUT_S)
        phases["ready"] = time.monotonic()
        port = ready["port"]

        def begin() -> None:
            phases["warm"] = time.monotonic()
            broker.send("begin")
            broker.wait("BEGUN", 60)

        if wl.loop == "closed":
            ol = None
            warm, samples = run_closed(port, args.workload, args.seed, anchor, args.seconds, begin)
            start = min(s.t0 for s in samples)
        else:
            ol = OpenLoop(port, args.workload, args.seed, anchor)
            warm = warm_up(port, args.workload, args.seed, anchor, WARM_UP)
            warm += ol.warm_up()
            begin()
            start = time.monotonic() + 0.2
            ol.run(start, start + args.seconds)
            samples, visible_ms, late_ms = ol.samples, ol.visible_ms, ol.late_ms
            readback = ol.read_back()
        phases["measured"] = time.monotonic()
        broker.send("end")
        result = broker.wait("RESULT", 300)
    finally:
        phases["result"] = time.monotonic()
        broker.stop()
        phases["stopped"] = time.monotonic()
        shutil.rmtree(work, ignore_errors=True)
        phases["cleaned"] = time.monotonic()

    detail = summarize(samples, start)
    marks = list(phases.items())
    detail["phases_s"] = {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])}
    detail["phases_s"]["broker_exit"] = broker.exit_s
    detail["workload"] = args.workload
    detail["seed"] = args.seed
    detail["seconds"] = args.seconds
    detail["trace"] = args.trace
    detail["spark_start_s"] = ready["spark_start_s"]
    detail["setup_repeats_s"] = ready["setup_s"]
    # Spark's session start is kept out of setup_s: it is most of the start
    # and drifts with the host, and would hide a change to the bulk load.
    detail["setup_s"] = statistics.median(ready["setup_s"])
    detail["log"] = result["log"]
    detail["server_peak_rss_mb"] = result["py_peak_rss_mb"] + result["jvm_peak_rss_mb"]
    acked = sum(1 for s in samples + warm if s.kind == "publish" and s.ok)
    shape = wl.shape
    history = shape.streams * shape.partitions * shape.buckets * shape.msgs_per_bucket
    stored_content = (history + acked) * shape.content_bytes
    detail["log_bytes_per_content_byte"] = result["log"]["bytes"] / stored_content
    if ol is not None:
        detail["publish_visible_p50_ms"] = median(visible_ms)
        detail["counts"]["publish_visible"] = len(visible_ms)
        t = tail(late_ms)
        detail["generator_late_tail_ms"], detail["tail_pct"]["generator_late"] = (
            t if t else (None, None))
    every = warm + samples + readback
    wrong = [s for s in every if s.error and not s.error.startswith("HTTP")]
    failed = [s for s in samples + readback if not s.ok]
    attempted = len(samples) + len(readback)
    detail["failed_ratio"] = len(failed) / attempted if attempted else 1.0
    detail["errors"] = sorted({f"{s.kind}: {s.error}" for s in every if s.error})[:10]
    correct = not wrong and all(s.ok for s in warm + readback)

    if args.trace:
        layer = per_layer(result["trace"], samples, detail)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {}
        for name, unit in E2E_UNITS.items():
            v = detail.get(name)
            if v is None:
                correct = False  # a workload that cannot produce a metric is broken
                v = 0.0
            metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failed), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
