"""Tests of the benchmark's own helpers: the percentile rule, open-loop
scheduling, the seeded inputs, the answer model and process clean-up.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from client import Due
from model import (
    PartitionLog,
    WrongAnswer,
    check_metadata_live,
    check_resend,
    check_resend_live,
    parse_ids,
    response_keys,
)
from stats import Schedule, quartile_spread, tail
from workloads import (
    BUCKET_MS,
    WORKLOADS,
    Req,
    content,
    generate_log,
    order_key,
    partition_for_key,
    vdc,
)

# -- percentile rule ---------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct = tail(values)
    assert value == 90
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_with_exactly_eleven_samples_is_the_minimum():
    value, pct = tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == 0.0


def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    assert tail([]) is None


def test_tail_p99_needs_a_thousand_samples():
    _, pct = tail(list(range(1001)))
    assert pct == pytest.approx(99.0)


def test_quartile_spread_matches_statistics_quantiles():
    # quantiles([1..9], n=4) -> 2.5, 5, 7.5
    assert quartile_spread(list(range(1, 10))) == pytest.approx((7.5 - 2.5) / 5)


# -- open-loop scheduling ----------------------------------------------------


def test_schedule_due_times_are_fixed_by_start_and_rate():
    s = Schedule(start=100.0, rate=20.0)
    assert s.due(0) == 100.0
    assert s.due(1) == pytest.approx(100.05)
    assert s.due(40) == pytest.approx(102.0)


def test_schedule_does_not_drift_with_late_senders():
    # due times never depend on when earlier events were actually sent
    s = Schedule(start=0.0, rate=3.0)
    assert [round(s.due(i), 6) for i in range(4)] == [0.0, 0.333333, 0.666667, 1.0]


def test_due_hands_out_events_in_order_until_the_deadline():
    due = Due(Schedule(start=10.0, rate=4.0), deadline=11.0)
    events = []
    while (e := due.take()) is not None:
        events.append(e)
    assert events == [(0, 10.0), (1, 10.25), (2, 10.5), (3, 10.75)]
    assert due.take() is None


def test_due_gives_each_event_to_exactly_one_sender():
    due = Due(Schedule(start=0.0, rate=1000.0), deadline=20.0)
    taken: list[list[int]] = [[] for _ in range(16)]

    def sender(k):
        while (e := due.take()) is not None:
            taken[k].append(e[0])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=sender, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert sorted(i for got in taken for i in got) == list(range(20_000))


# -- seeded inputs -----------------------------------------------------------


def test_partitioner_matches_the_reference_golden_vector():
    # test/unit/Partitioner.test.ts:19-27 in the reference broker
    got = [partition_for_key(10, f"key-{i}") for i in range(10)]
    assert got == [6, 7, 4, 4, 9, 1, 8, 0, 6, 6]


def test_van_der_corput_prefixes_are_even():
    assert [vdc(i) for i in range(1, 5)] == [0.5, 0.25, 0.75, 0.125]
    first8 = sorted(vdc(i) for i in range(8))
    assert first8 == [k / 8 for k in range(8)]


def test_content_is_json_of_the_exact_size():
    c = content(7, "t", 3, 300)
    assert len(c.encode()) == 300
    assert json.loads(c)["n"] == 3
    assert c == content(7, "t", 3, 300)
    assert c != content(8, "t", 3, 300)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generated_log_has_the_declared_shape(name):
    shape = WORKLOADS[name].shape
    anchor = 1_000 * BUCKET_MS
    log = generate_log(shape, seed=3, anchor=anchor)
    assert len(log) == shape.streams * shape.partitions
    for msgs in log.values():
        keys = [order_key(m) for m in msgs]
        assert keys == sorted(keys) and len(set(keys)) == len(keys)
        buckets = {}
        for m in msgs:
            buckets[m.ts // BUCKET_MS] = buckets.get(m.ts // BUCKET_MS, 0) + 1
        assert sorted(buckets) == list(range(1000 - shape.buckets, 1000))
        assert set(buckets.values()) == {shape.msgs_per_bucket}
    assert generate_log(shape, seed=3, anchor=anchor) == log


def test_history_repeats_timestamps_and_numbers_sequences():
    log = generate_log(WORKLOADS["tail-reads"].shape, seed=1, anchor=100 * BUCKET_MS)
    msgs = next(iter(log.values()))
    assert any(a.ts == b.ts for a, b in zip(msgs, msgs[1:]))
    for m in msgs:
        if m.seq:
            assert m.prev_ts == m.ts and m.prev_seq == m.seq - 1


# -- the answer model, on a hand-built log -----------------------------------

S = "s/1"
A, B = ("pa", "ca"), ("pb", "cb")
# (ts, seq, publisher, chain), in the broker's total order
TINY = [
    (1000, 0, *A),
    (1000, 0, *B),
    (1000, 1, *A),
    (2000, 0, *B),
    (3000, 0, *A),
    (3000, 1, *A),
    (4000, 0, *B),
]
SIZES = [10, 20, 30, 40, 50, 60, 70]


def tiny() -> PartitionLog:
    return PartitionLog.of(list(zip(TINY, SIZES)))


def test_model_last():
    log = tiny()
    assert log.resend(Req("last", S, 0, count=2)) == TINY[5:]
    assert log.resend(Req("last", S, 0, count=100)) == TINY
    assert log.resend(Req("last", S, 0, count=20_000)) == TINY


def test_model_from_respects_the_sequence_bound():
    log = tiny()
    assert log.resend(Req("from", S, 0, from_ts=1000, from_seq=1)) == TINY[2:]
    assert log.resend(Req("from", S, 0, from_ts=3000)) == TINY[4:]
    assert log.resend(Req("from", S, 0, from_ts=1000, publisher="pb")) == [TINY[1], TINY[3], TINY[6]]


def test_model_range_bounds_and_chain():
    log = tiny()
    r = Req("range", S, 0, from_ts=1000, from_seq=1, to_ts=3000, to_seq=0)
    assert log.resend(r) == [TINY[2], TINY[3], TINY[4]]
    r = Req("range", S, 0, from_ts=1000, to_ts=3000, publisher="pa", chain="ca")
    assert log.resend(r) == [TINY[0], TINY[2], TINY[4], TINY[5]]
    assert log.resend(Req("range", S, 0, from_ts=5000, to_ts=6000)) == []


def test_model_metadata():
    assert tiny().metadata() == {
        "totalBytes": 280, "totalMessages": 7, "firstMessage": 1000, "lastMessage": 4000,
    }
    assert PartitionLog([], []).metadata()["totalMessages"] == 0


def _protocol_array(key, stream=S, partition=0):
    ts, seq, pub, chain = key
    return [31, [stream, partition, ts, seq, pub, chain], None, 27, 0, 0, "{}", 0, None]


@pytest.mark.parametrize("fmt", ["object", "protocol", "raw"])
def test_response_parsing_per_format(fmt):
    arrays = [_protocol_array(k) for k in TINY[:3]]
    if fmt == "object":
        body = json.dumps(arrays)
    elif fmt == "protocol":
        body = json.dumps([json.dumps(a) for a in arrays])
    else:
        body = "\n".join(json.dumps(a) for a in arrays)
    req = Req("last", S, 0, count=3, fmt=fmt)
    assert response_keys(req, body.encode()) == TINY[:3]
    assert len(parse_ids(body.encode(), fmt)) == 3


def test_response_out_of_order_or_foreign_is_wrong():
    req = Req("last", S, 0, count=2)
    swapped = json.dumps([_protocol_array(TINY[1]), _protocol_array(TINY[0])]).encode()
    with pytest.raises(WrongAnswer, match="order"):
        response_keys(req, swapped)
    duplicate = json.dumps([_protocol_array(TINY[0]), _protocol_array(TINY[0])]).encode()
    with pytest.raises(WrongAnswer, match="order"):
        response_keys(req, duplicate)
    foreign = json.dumps([_protocol_array(TINY[0], partition=1)]).encode()
    with pytest.raises(WrongAnswer, match="partition|s/1"):
        response_keys(req, foreign)


def test_check_resend_catches_count_and_endpoints():
    req = Req("last", S, 0, count=3)
    check_resend(req, TINY[4:], TINY[4:])
    with pytest.raises(WrongAnswer, match="rows"):
        check_resend(req, TINY[5:], TINY[4:])
    with pytest.raises(WrongAnswer, match="first/last"):
        check_resend(req, TINY[3:6], TINY[4:])


def test_live_check_accepts_any_visible_subset_of_publishes():
    history = tiny()
    p1, p2 = (5000, 0, "bench", "c"), (6000, 0, "bench", "c")
    sent = {p1: 10, p2: 10}
    last3 = Req("last", S, 0, count=3)
    check_resend_live(last3, [TINY[5], TINY[6], p1], history, sent)  # p2 not flushed yet
    check_resend_live(last3, [TINY[6], p1, p2], history, sent)
    check_resend_live(last3, TINY[4:], history, sent)  # nothing flushed yet
    with pytest.raises(WrongAnswer):  # a history row skipped
        check_resend_live(last3, [TINY[4], TINY[6], p1], history, sent)
    with pytest.raises(WrongAnswer, match="unknown"):
        check_resend_live(last3, [TINY[6], p1, (7000, 0, "x", "y")], history, sent)


def test_live_metadata_counts_only_whole_publishes():
    history = tiny()
    sent = {(5000, 0, "bench", "c"): 10, (6000, 0, "bench", "c"): 10}
    base = history.metadata()
    check_metadata_live(base, history, sent, 10)
    grown = dict(base, totalMessages=8, totalBytes=290, lastMessage=5000)
    check_metadata_live(grown, history, sent, 10)
    with pytest.raises(WrongAnswer, match="totalBytes"):
        check_metadata_live(dict(grown, totalBytes=295), history, sent, 10)
    with pytest.raises(WrongAnswer, match="totalMessages"):
        check_metadata_live(dict(base, totalMessages=10), history, sent, 10)


# -- process clean-up --------------------------------------------------------

ORPHAN_SCRIPT = r"""
import subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import run

run.become_subreaper()
# a child that starts a sleeper in a process group of its own and exits,
# as Spark's Python daemon outlives the JVM that started it
subprocess.run([sys.executable, "-c",
                "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
                "'import time; time.sleep(60)'], start_new_session=True)"], check=True)
time.sleep(0.2)
before = len(run._children())
run.reap_descendants()
print(before, len(run._children()))
"""


def test_reap_descendants_kills_and_waits_for_adopted_orphans():
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run([sys.executable, "-c", ORPHAN_SCRIPT, here], capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["1", "0"]
