"""The load generator: HTTP clients that send a workload's requests to the
broker and check every answer against the model.

Closed loop (tail-reads, bulk-replay): each client is its own process, so
parsing one large answer does not hold up another client's clock.  Open
loop (publish-mixed): publishers, a reader and a visibility prober run as
threads of one process and share the record of what was published.

All times are `time.monotonic()`, which every process on the host shares.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass, field

from model import (
    Model,
    WrongAnswer,
    check_metadata,
    check_metadata_live,
    check_resend,
    check_resend_live,
    response_keys,
)
from stats import Schedule
from workloads import (
    PROBE_PERIOD_S,
    PROBE_RETRY_S,
    PUBLISH_RATE,
    READ_THINK_S,
    WORKLOADS,
    Req,
    generate_log,
    partition_for_key,
    publish_path,
    publish_spec,
)

HTTP_TIMEOUT_S = 170
VISIBLE_TIMEOUT_S = 20.0
#: warm-up requests take mix indices from here on, apart from measured ones
WARM_UP_BASE = 1 << 30


@dataclass
class Sample:
    kind: str  # last | from | range | metadata | publish | probe | readback
    t0: float  # send time (closed loop) or due time (open loop)
    t_send: float
    t_ttfb: float
    t_end: float
    status: int
    rows: int = 0
    error: str | None = None
    rid: str = ""

    @property
    def ok(self) -> bool:
        return self.status == 200 and self.error is None


class Conn:
    """One keep-alive HTTP/1.1 connection to the gateway."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.c: http.client.HTTPConnection | None = None

    def call(self, method: str, path: str, rid: str, body: bytes | None = None):
        """-> (status, t_headers, t_end, body); status 0 on a broken connection."""
        if self.c is None:
            self.c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=HTTP_TIMEOUT_S)
        try:
            self.c.request(method, path, body=body, headers={"X-Perfbench-Id": rid})
            r = self.c.getresponse()
            t_h = time.monotonic()
            data = r.read()
            return r.status, t_h, time.monotonic(), data
        except (OSError, http.client.HTTPException):
            self.close()
            t = time.monotonic()
            return 0, t, t, b""

    def close(self) -> None:
        if self.c is not None:
            self.c.close()
            self.c = None


def read(conn: Conn, req: Req, rid: str, check, t0: float | None = None) -> Sample:
    """Send one resend or metadata request and check its answer with
    `check(req, answer)` (answer: keys for a resend, dict for metadata)."""
    t_send = time.monotonic()
    status, t_h, t_e, body = conn.call("GET", req.path(), rid)
    s = Sample(req.kind, t_send if t0 is None else t0, t_send, t_h, t_e, status, rid=rid)
    if status != 200:
        s.error = f"HTTP {status}"
        return s
    try:
        if req.kind == "metadata":
            check(req, json.loads(body))
        else:
            keys = response_keys(req, body)
            s.rows = len(keys)
            check(req, keys)
    except (WrongAnswer, ValueError, KeyError, IndexError, TypeError) as e:
        s.error = f"{type(e).__name__}: {e}"
    return s


def exact_check(model: Model):
    def check(req: Req, got) -> None:
        part = model.parts[(req.stream, req.partition)]
        if req.kind == "metadata":
            check_metadata(got, part.metadata())
        else:
            check_resend(req, got, part.resend(req))

    return check


def build_model(name: str, seed: int, anchor: int) -> Model:
    wl = WORKLOADS[name]
    return Model(generate_log(wl.shape, seed, anchor), wl.shape.content_bytes)


# -- closed loop -------------------------------------------------------------
def closed_client(port, name, seed, anchor, warm, window, ready, go, counter, out) -> None:
    """One closed-loop client process.  Build the model, answer the
    warm-up requests at mix indices `warm`, report `ready`, and wait for
    `go`.  Then take the next request index, send, check, and repeat until
    the end of `window` (start, deadline).  Puts (warm-up, measured)
    samples on `out`."""
    wl = WORKLOADS[name]
    mix = wl.mix(seed, anchor)
    check = exact_check(build_model(name, seed, anchor))
    conn = Conn(port)
    warmed = [read(conn, mix(WARM_UP_BASE + i), f"w{i}", check) for i in warm]
    ready.release()
    go.wait()
    start, deadline = window[0], window[1]
    time.sleep(max(0.0, start - time.monotonic()))
    samples = []
    while time.monotonic() < deadline:
        with counter.get_lock():
            i = counter.value
            counter.value += 1
        samples.append(read(conn, mix(i), f"m{i}", check))
    conn.close()
    out.put((warmed, samples))


def warm_up(port: int, name: str, seed: int, anchor: int, indices) -> list[Sample]:
    """Answer the mix's requests at `indices` before the clock starts, so
    lazy first-use costs are not timed."""
    wl = WORKLOADS[name]
    mix = wl.mix(seed, anchor)
    check = exact_check(build_model(name, seed, anchor))
    conn = Conn(port)
    try:
        return [read(conn, mix(WARM_UP_BASE + i), f"w{i}", check) for i in indices]
    finally:
        conn.close()


# -- open loop ---------------------------------------------------------------
@dataclass
class Live:
    """What publish-mixed has published so far, shared by its threads."""

    lock: threading.Lock = field(default_factory=threading.Lock)
    sent: dict = field(default_factory=dict)  # sp -> {key: content bytes}
    acked: list = field(default_factory=list)  # (sp, key, t_ack)

    def sent_to(self, sp) -> dict:
        with self.lock:
            return dict(self.sent.get(sp, {}))


class Due:
    """The events of one open-loop schedule, handed out in order to the
    connections that send them; a late sender does not move later due
    times."""

    def __init__(self, sched: Schedule, deadline: float) -> None:
        self.sched = sched
        self.deadline = deadline
        self._next = 0
        self._lock = threading.Lock()

    def take(self) -> tuple[int, float] | None:
        """(index, due time) of the next event, None past the deadline."""
        with self._lock:
            i = self._next
            self._next += 1
        due = self.sched.due(i)
        return None if due >= self.deadline else (i, due)


class OpenLoop:
    """publish-mixed: keyed publishes at PUBLISH_RATE on two connections,
    one read-your-write probe chain per PROBE_PERIOD_S on a third, and
    tail-read-style reads on a fourth.  Reads are sent READ_THINK_S and
    probe tries PROBE_RETRY_S after the previous answer.

    The reads run in a closed loop so that their latency shows the flushes
    they overlap rather than the generator's own queue; the short think
    time keeps them from holding the gateway back to back.  Publishes need
    two connections: the gateway answers in two writes (headers, then
    body), so a request sent right behind the previous answer on one
    connection waits out the client's delayed ACK (about 40 ms), and one
    connection with a backlog tops out near 22 msgs/s."""

    PUBLISHERS = 2

    def __init__(self, port: int, name: str, seed: int, anchor: int) -> None:
        self.port = port
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.model = build_model(name, seed, anchor)
        self.mix = self.wl.mix(seed, anchor)
        self.live = Live()
        self.samples: list[Sample] = []
        self.visible_ms: list[float] = []
        self.late_ms: list[float] = []
        self._lock = threading.Lock()

    def _record(self, s: Sample) -> None:
        with self._lock:
            self.samples.append(s)

    def run(self, start: float, deadline: float) -> None:
        publishes = Due(Schedule(start, PUBLISH_RATE), deadline)
        threads = [threading.Thread(target=self._publisher, args=(k, publishes))
                   for k in range(self.PUBLISHERS)]
        threads.append(threading.Thread(target=self._reader, args=(start, deadline)))
        threads.append(threading.Thread(target=self._prober, args=(start, deadline)))
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _publish(self, conn: Conn, i: int, k: int, due: float, chain: list) -> Sample:
        """Send publish `i` on connection `k`; `chain` holds the
        connection's last (ts, seq), which the protocol's numbering needs."""
        p = publish_spec(self.wl.shape, self.seed, i, k)
        ts = int(time.time() * 1000)
        seq = chain[1] + 1 if ts == chain[0] else 0
        chain[:] = [ts, seq]
        sp = (p.stream, partition_for_key(self.wl.shape.partitions, p.key))
        key = (ts, seq, p.publisher, p.chain)
        with self.live.lock:
            self.live.sent.setdefault(sp, {})[key] = self.wl.shape.content_bytes
        t_send = time.monotonic()
        rid = f"m-p{i}"
        status, t_h, t_e, _ = conn.call("POST", publish_path(p, ts, seq), rid, p.body.encode())
        s = Sample("publish", due, t_send, t_h, t_e, status, rid=rid)
        if status != 200:
            s.error = f"HTTP {status}"
        else:
            with self.live.lock:
                self.live.acked.append((sp, key, t_e))
        return s

    def _publisher(self, k: int, publishes: Due) -> None:
        conn = Conn(self.port)
        chain = [None, 0]
        while (event := publishes.take()) is not None:
            i, due = event
            time.sleep(max(0.0, due - time.monotonic()))
            s = self._publish(conn, i, k, due, chain)
            with self._lock:
                self.late_ms.append(1000 * (s.t_send - due))
            self._record(s)
        conn.close()

    def warm_up(self) -> list[Sample]:
        """A few publishes, each waited on until readable, so that the first
        flush (which starts Spark's Python workers) is not timed."""
        conn = Conn(self.port)
        chain = [None, 0]
        out = []
        try:
            for j in range(4):
                out.append(self._publish(conn, -1 - j, self.PUBLISHERS, time.monotonic(), chain))
            give_up = time.monotonic() + VISIBLE_TIMEOUT_S
            for sp, key, _ in list(self.live.acked):
                req = Req("range", sp[0], sp[1], from_ts=key[0], from_seq=key[1], to_ts=key[0],
                          to_seq=key[1], publisher=key[2], chain=key[3])
                while True:
                    s = read(conn, req, "w-probe", lambda req, got: None)
                    if s.rows or not s.ok or time.monotonic() > give_up:
                        break
                    time.sleep(0.2)
                if s.rows != 1:
                    s.error = s.error or f"warm-up publish {key} not readable"
                out.append(s)
        finally:
            conn.close()
        return out

    def _live_check(self, req: Req, got) -> None:
        sp = (req.stream, req.partition)
        history = self.model.parts[sp]
        sent = self.live.sent_to(sp)
        if req.kind == "metadata":
            check_metadata_live(got, history, sent, self.wl.shape.content_bytes)
        else:
            check_resend_live(req, got, history, sent)

    def _reader(self, start: float, deadline: float) -> None:
        conn = Conn(self.port)
        time.sleep(max(0.0, start - time.monotonic()))
        i = 0
        while time.monotonic() < deadline:
            self._record(read(conn, self.mix(i), f"m{i}", self._live_check))
            i += 1
            time.sleep(READ_THINK_S)
        conn.close()

    def _prober(self, start: float, deadline: float) -> None:
        """Read-your-write: take the newest acknowledged publish, then
        resend exactly its id, pausing PROBE_RETRY_S between tries, until
        the answer holds it."""
        sched = Schedule(start, 1.0 / PROBE_PERIOD_S)
        conn = Conn(self.port)
        probed = 0
        n = 0
        i = 0
        while sched.due(i) < deadline:
            time.sleep(max(0.0, sched.due(i) - time.monotonic()))
            i += 1
            with self.live.lock:
                if len(self.live.acked) <= probed:
                    continue
                probed = len(self.live.acked)
                (stream, partition), key, t_ack = self.live.acked[-1]
            req = Req("range", stream, partition, from_ts=key[0], from_seq=key[1],
                      to_ts=key[0], to_seq=key[1], publisher=key[2], chain=key[3])

            def check(req, got, key=key):
                if got not in ([], [key]):
                    raise WrongAnswer(f"probe for {key} returned {got}")

            while True:
                s = read(conn, req, f"p{n}", check)
                n += 1
                s.kind = "probe"
                self._record(s)
                if s.ok and s.rows == 1:
                    with self._lock:
                        self.visible_ms.append(1000 * (s.t_end - t_ack))
                    break
                if not s.ok or time.monotonic() - t_ack > VISIBLE_TIMEOUT_S:
                    if s.ok:
                        s.error = f"publish {key} not visible after {VISIBLE_TIMEOUT_S:.0f} s"
                    break
                time.sleep(PROBE_RETRY_S)
        conn.close()

    def read_back(self) -> list[Sample]:
        """After the run: every acknowledged publish must be in the log
        exactly once (a repeated id breaks the strict order check), and
        nothing that was never sent.  Retries while the spool may still be
        flushing."""
        conn = Conn(self.port)
        acked: dict = {}
        for sp, key, _ in self.live.acked:
            acked.setdefault(sp, set()).add(key)
        out = []
        give_up = time.monotonic() + VISIBLE_TIMEOUT_S
        try:
            for sp, sent in self.live.sent.items():
                lo, hi = min(sent), max(sent)
                req = Req("range", sp[0], sp[1], from_ts=lo[0], to_ts=hi[0])

                def check(req, keys, sent=sent, want=acked.get(sp, set())):
                    unknown = [k for k in keys if k not in sent]
                    if unknown:
                        raise WrongAnswer(f"read-back: {len(unknown)} messages never sent")
                    missing = want - set(keys)
                    if missing:
                        raise WrongAnswer(f"read-back: {len(missing)} acknowledged publishes missing")

                while True:
                    s = read(conn, req, f"r{len(out)}", check)
                    s.kind = "readback"
                    if s.ok or time.monotonic() > give_up or "missing" not in (s.error or ""):
                        break
                    time.sleep(0.5)
                out.append(s)
        finally:
            conn.close()
        return out
