"""Span tracing for the broker process, installed from outside the program:
it wraps the public entry points of each layer for the length of a traced
run and restores them afterwards.

Layers and the entry points wrapped:

- serving.http     `DataQueryHandler.do_GET` / `do_POST` (one root span
                   per request, named by request kind) and the socket
                   writer of each connection (delivery time, chunks, bytes)
- serving.formats  `frame`, as the gateway calls it (self time = time in
                   the frame generator minus the row iterator inside it)
- serving.publish  `PublishSpool.publish` and `PublishSpool._flush_locked`
- storage.store    `read_stream_data` as `Storage` calls it (log open) and
                   `Storage.stream_rows` (first row, drain)
- operators.*      `resend.request_last/from/range`,
                   `metadata.partition_metadata` (plan construction)
- storage.writer   `write_stream_data` as `Storage.store` calls it
- Spark            a job group per request (and per log open and per
                   flush), read back through `SparkContext.statusTracker()`

A span records its name, start, end, parent and the request id of the
thread that opened it.  Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from broker_spark.operators import metadata as metadata_ops
from broker_spark.operators import resend as resend_ops
from broker_spark.serving import http as http_mod
from broker_spark.serving.publish import PublishSpool
from broker_spark.storage import store as store_mod

_KIND_RE = re.compile(r"/(?:data/partitions/[^/]+/(last|from|range)|(metadata)/partitions/)")


class _TimedWriter:
    """Connection writer proxy: times each write into the current request."""

    def __init__(self, raw, tracer: Tracer) -> None:
        self._raw = raw
        self._tracer = tracer

    def write(self, data):
        t = time.monotonic()
        try:
            return self._raw.write(data)
        finally:
            acc = self._tracer.acc()
            if acc is not None:
                acc["write_s"] += time.monotonic() - t
                if not data.startswith(b"HTTP/") and data != b"0\r\n\r\n":
                    acc["chunks"] += 1
                    acc["bytes"] += len(data)

    def __getattr__(self, name):
        return getattr(self._raw, name)


class Tracer:
    def __init__(self, sc, log_root: str) -> None:
        self.sc = sc
        self.log_root = log_root
        self.spans: list[dict] = []
        self.requests: list[dict] = []  # root spans, with their accumulators
        self.groups: list[str] = []  # job groups opened by flushes
        self._ids = itertools.count(1)
        self._flushes = itertools.count(1)
        self._tl = threading.local()
        self._restore: list[tuple] = []
        self.t_begin = time.monotonic()

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._tl, "stack", None)
        if stack is None:
            stack = self._tl.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "rid": getattr(self._tl, "rid", None),
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            self.spans.append(rec)

    def acc(self) -> dict | None:
        """Accumulators of the request this thread is serving."""
        return getattr(self._tl, "root", None)

    def begin(self) -> None:
        """Start of the measured window: drop what warm-up recorded."""
        self.spans.clear()
        self.requests.clear()
        self.groups.clear()
        self.t_begin = time.monotonic()

    # -- install / uninstall ---------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _spanned(self, name: str):
        def make(orig):
            def wrapper(*a, **k):
                with self.span(name):
                    return orig(*a, **k)

            return wrapper

        return make

    def install(self) -> None:
        handler = http_mod.DataQueryHandler
        self._patch(handler, "do_GET", self._handler_wrapper)
        self._patch(handler, "do_POST", self._handler_wrapper)
        self._patch(store_mod, "read_stream_data", self._log_open_wrapper)
        for fn in ("request_last", "request_from", "request_range"):
            self._patch(resend_ops, fn, self._spanned("operators.resend.build"))
        self._patch(metadata_ops, "partition_metadata", self._spanned("operators.metadata.build"))
        self._patch(store_mod.Storage, "stream_rows", self._stream_rows_wrapper)
        self._patch(http_mod, "frame", self._frame_wrapper)
        self._patch(PublishSpool, "publish", self._spanned("serving.publish.publish"))
        self._patch(PublishSpool, "_flush_locked", self._flush_wrapper)
        self._patch(store_mod, "write_stream_data", self._write_wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- wrappers --------------------------------------------------------
    def _handler_wrapper(self, orig):
        tracer = self

        def wrapper(handler):
            rid = handler.headers.get("X-Perfbench-Id") or f"anon-{next(tracer._ids)}"
            if handler.command == "POST":
                kind = "publish"
            else:
                m = _KIND_RE.search(handler.path)
                kind = (m.group(1) or m.group(2)) if m else "other"
            if not isinstance(handler.wfile, _TimedWriter):
                handler.wfile = _TimedWriter(handler.wfile, tracer)
            tracer._tl.rid = rid
            tracer.sc.setJobGroup(rid, kind)
            with tracer.span("serving.http.handler", kind=kind, write_s=0.0, chunks=0, bytes=0,
                             rows=0, first_row_s=None, drain_s=0.0, rows_next_s=0.0,
                             frame_s=0.0) as root:
                tracer._tl.root = root
                try:
                    return orig(handler)
                finally:
                    tracer._tl.root = None
                    tracer._tl.rid = None
                    tracer.requests.append(root)

        return wrapper

    def _log_open_wrapper(self, orig):
        def wrapper(*a, **k):
            rid = getattr(self._tl, "rid", None)
            if rid is not None:
                self.sc.setJobGroup(f"{rid}|open", "log open")
            try:
                with self.span("storage.store.log_open"):
                    return orig(*a, **k)
            finally:
                if rid is not None:
                    self.sc.setJobGroup(rid, "request")

        return wrapper

    def _stream_rows_wrapper(self, orig):
        tracer = self

        def wrapper(storage, df):
            t_call = time.monotonic()
            with tracer.span("storage.store.stream_rows"):
                it = orig(storage, df)
            acc = tracer.acc()
            if acc is None:
                return it

            def rows():
                while True:
                    t = time.monotonic()
                    try:
                        row = next(it)
                    except StopIteration:
                        row = None
                    t_end = time.monotonic()
                    acc["rows_next_s"] += t_end - t
                    if acc["first_row_s"] is None:
                        acc["first_row_s"] = t_end - t_call
                    else:
                        acc["drain_s"] += t_end - t
                    if row is None:
                        return
                    acc["rows"] += 1
                    yield row

            return rows()

        return wrapper

    def _frame_wrapper(self, orig):
        tracer = self

        def wrapper(rows, fmt, version=None):
            inner = orig(rows, fmt, version)
            acc = tracer.acc()
            if acc is None:
                return inner

            def pieces():
                while True:
                    t = time.monotonic()
                    try:
                        piece = next(inner)
                    except StopIteration:
                        acc["frame_s"] += time.monotonic() - t
                        return
                    acc["frame_s"] += time.monotonic() - t
                    yield piece

            return pieces()

        return wrapper

    def _flush_wrapper(self, orig):
        tracer = self

        def wrapper(spool):
            n = len(spool._rows)
            if not n:
                return orig(spool)
            group = f"flush-{next(tracer._flushes)}"
            tracer.groups.append(group)
            rid = getattr(tracer._tl, "rid", None)
            tracer.sc.setJobGroup(group, "flush")
            try:
                with tracer.span("serving.publish.flush", messages=n, group=group):
                    return orig(spool)
            finally:
                if rid is not None:
                    tracer.sc.setJobGroup(rid, "request")

        return wrapper

    def _write_wrapper(self, orig):
        def wrapper(df, path, *a, **k):
            before = count_files(path)
            with self.span("storage.writer.write") as rec:
                orig(df, path, *a, **k)
            rec["files"] = count_files(path) - before
            return None

        return wrapper

    # -- results ---------------------------------------------------------
    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) that ran under a job group."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                stages += 1
                tasks += stage.numTasks if stage is not None else 0
        return jobs, stages, tasks

    def summary(self) -> dict:
        """Per-layer numbers over the measured window (requests whose id
        starts with `m`), plus each request's handler time for the
        generator's wait-time split."""
        reqs = [r for r in self.requests if str(r["rid"]).startswith("m")]
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def child_ms(root, name):
            return 1000 * sum(c["end"] - c["start"] for c in _descendants(children, root["id"])
                              if c["name"] == name)

        per_kind: dict[str, dict[str, list]] = {}
        handler_ms = {}
        for r in reqs:
            d = per_kind.setdefault(r["kind"], {})
            dur = 1000 * (r["end"] - r["start"])
            handler_ms[r["rid"]] = dur
            jobs, stages, tasks = self.job_counts(r["rid"])
            ojobs, ostages, otasks = self.job_counts(f"{r['rid']}|open")
            first = 1000 * (r["first_row_s"] or 0.0)
            drain = 1000 * r["drain_s"]
            row = {
                "handler_ms": dur,
                "log_open_ms": child_ms(r, "storage.store.log_open"),
                "log_open_jobs": ojobs,
                "build_ms": child_ms(r, "operators.resend.build") + child_ms(r, "operators.metadata.build"),
                "first_row_ms": first,
                "drain_ms": drain,
                "frame_ms": 1000 * (r["frame_s"] - r["rows_next_s"]),
                "deliver_ms": 1000 * r["write_s"],
                "chunks": r["chunks"],
                "bytes": r["bytes"],
                "rows": r["rows"],
                "jobs": jobs + ojobs,
                "stages": stages + ostages,
                "tasks": tasks + otasks,
                "publish_ms": child_ms(r, "serving.publish.publish"),
            }
            for k, v in row.items():
                d.setdefault(k, []).append(v)

        flushes = [s for s in self.spans if s["name"] == "serving.publish.flush"]
        writes = [s for s in self.spans if s["name"] == "storage.writer.write"]
        publishes = [s for s in self.spans if s["name"] == "serving.publish.publish"
                     and s["start"] >= self.t_begin]
        blocked = sum(1 for p in publishes
                      if any(f["start"] < p["end"] and p["start"] < f["end"] for f in flushes))
        flush_jobs = [self.job_counts(g) for g in self.groups]
        return {
            "per_kind": per_kind,
            "handler_ms": handler_ms,
            "flush_ms": [1000 * (f["end"] - f["start"]) for f in flushes],
            "messages_per_flush": [f["messages"] for f in flushes],
            "flush_jobs": [j for j, _, _ in flush_jobs],
            "flush_stages": [s for _, s, _ in flush_jobs],
            "flush_tasks": [t for _, _, t in flush_jobs],
            "write_ms": [1000 * (w["end"] - w["start"]) for w in writes],
            "files_per_write": [w.get("files", 0) for w in writes],
            "publishes": len(publishes),
            "publishes_blocked": blocked,
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"t_begin": self.t_begin, "spans": self.spans}, f)


def _descendants(children: dict, sid: int):
    for c in children.get(sid, ()):
        yield c
        yield from _descendants(children, c["id"])


def count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )
