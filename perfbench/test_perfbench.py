"""Self-tests of the benchmark's own code: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import random

import pytest

from perfbench.datagen import write_tables
from perfbench.measure import JsonSeqParser, self_time, set_hash, tail
from perfbench.workloads import declare_and_query, interactive_mql


# ----------------------------------------------------- tail percentile

def test_tail_keeps_ten_samples_beyond():
    vals = list(range(1, 31))
    random.Random(0).shuffle(vals)
    value, pct, n = tail(vals)
    assert (value, n) == (20, 30)
    assert sum(v > value for v in vals) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_eleven_samples_is_the_smallest():
    value, pct, n = tail([5.0] + [9.0] * 10)
    assert (value, n) == (5.0, 11)
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_without_enough_samples_reports_percentile_zero(n):
    value, pct, count = tail(list(range(n, 0, -1)))
    assert (value, pct, count) == (1, 0.0, n)


def test_tail_of_nothing():
    assert tail([]) == (0.0, 0.0, 0)


# ------------------------------------------------------------ self time

def _span(a, b, **kw):
    return {"start": a, "end": b, **kw}


def test_self_time_subtracts_children():
    assert self_time(_span(0, 10), [_span(1, 3), _span(5, 6)]) == 7


def test_self_time_counts_overlapping_children_once():
    assert self_time(_span(0, 10), [_span(1, 4), _span(2, 6)]) == 5


def test_self_time_clips_children_to_the_parent():
    assert self_time(_span(2, 10), [_span(0, 4), _span(9, 12)]) == 5


def test_self_time_of_busy_spans():
    # an iterator child covers only its busy time
    assert self_time(_span(0, 10), [_span(1, 9, busy=3)]) == 7
    # an iterator parent lasts only its busy time
    assert self_time(_span(0, 10, busy=4), [_span(1, 2)]) == 3


def test_self_time_never_negative():
    assert self_time(_span(0, 1), [_span(0, 1, busy=5)]) == 0


# ---------------------------------------------------------- oracle hash

def test_set_hash_is_order_independent():
    keys = [f"f{i:09d}|dune|run_{i}.data|{i * 7}" for i in range(500)]
    shuffled = keys[:]
    random.Random(1).shuffle(shuffled)
    assert set_hash(keys) == set_hash(shuffled)


def test_set_hash_tells_sets_apart():
    keys = [f"k{i}" for i in range(100)]
    assert set_hash(keys) != set_hash(keys[:-1])
    assert set_hash(keys) != set_hash(keys + ["k0"])    # multiset
    assert set_hash(keys[:50] + ["x"]) != set_hash(keys[:50] + ["y"])


# -------------------------------------------------------------- json-seq

def _frames(records):
    return b"".join(b"\x1e" + json.dumps(r).encode() + b"\n"
                    for r in records)


@pytest.mark.parametrize("chunk", [1, 2, 3, 7, 64, 10_000])
def test_json_seq_frames_split_anywhere(chunk):
    records = [{"id": f"f{i}", "size": i, "m": {"a": [1, 2]}}
               for i in range(40)]
    data = _frames(records)
    p, got = JsonSeqParser(), []
    for i in range(0, len(data), chunk):
        got.extend(p.feed(data[i:i + chunk]))
    p.close()
    assert got == records


def test_json_seq_truncated_stream_is_an_error():
    data = _frames([{"id": 1}, {"id": 2}])[:-3]
    p = JsonSeqParser()
    assert p.feed(data) == [{"id": 1}]
    with pytest.raises(ValueError):
        p.close()


def test_json_seq_rejects_bytes_outside_frames():
    with pytest.raises(ValueError):
        JsonSeqParser().feed(b'{"id": 1}\n')


# ----------------------------------------------------- seeded sequences

def _signature(ops):
    return [(o.kind, o.template, o.path, o.body, json.dumps(
        o.oracle, sort_keys=True), json.dumps(o.expect, sort_keys=True))
        for o in ops]


def _flat(ops):
    """A list of ops, or of passes (lists of ops), as one list of ops."""
    return [o for x in ops for o in (x if isinstance(x, list) else [x])]


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    out = {}
    for seed in (7, 8):
        d = tmp_path_factory.mktemp(f"data{seed}")
        write_tables(str(d), seed)
        out[seed] = str(d)
    return out


def test_same_seed_same_inputs(tmp_path, data):
    write_tables(str(tmp_path), 7)
    for name in ("lineitem", "orders", "documents", "embeddings"):
        a = (tmp_path / f"{name}.parquet").read_bytes()
        with open(f"{data[7]}/{name}.parquet", "rb") as f:
            assert f.read() == a


def test_same_seed_same_interactive_sequence(data):
    a, b = (interactive_mql(7, data[7]) for _ in range(2))
    c = interactive_mql(8, data[8])
    for key in ("warmup", "passes"):
        assert _signature(_flat(a[key])) == _signature(_flat(b[key]))
        assert _signature(_flat(a[key])) != _signature(_flat(c[key]))
    # the seed changes parameters, never the template order
    assert [o.template for o in a["warmup"]] == \
        [o.template for o in c["warmup"]]


def test_same_seed_same_declare_sequence(data):
    a, b = (declare_and_query(7, data[7]) for _ in range(2))
    c = declare_and_query(8, data[8])
    for key in ("sequence", "verify", "passes"):
        assert _signature(_flat(a[key])) == _signature(_flat(b[key]))
        assert _signature(_flat(a[key])) != _signature(_flat(c[key]))
    assert a["payload_bytes"] == b["payload_bytes"]


# ------------------------------------------------------ steal-gated passes

class _FakeGen:
    def __init__(self):
        self.samples, self.sent = [], []

    def send(self, op, phase, traced=False):
        self.sent.append(op)
        self.samples.append({"kind": "read", "phase": phase})


def _steal_feed(monkeypatch, shares):
    """Make each measured pass read the next steal share of ``shares``."""
    from perfbench import run
    shares = iter(shares)
    state = {"steal": 0, "total": 0}

    def ticks():
        # called before and after every pass: 100 busy ticks a pass
        if state["total"] % 200 == 100:
            state["steal"] += round(100 * next(shares))
        state["total"] += 100
        return state["steal"], state["total"], 0
    monkeypatch.setattr(run, "host_ticks", ticks)
    monkeypatch.setattr(run, "gate", lambda max_wait_s: 0.0)
    return run


def test_noisy_pass_is_sent_again_and_set_aside(monkeypatch):
    run = _steal_feed(monkeypatch, [0.0, 0.30, 0.0])
    gen = _FakeGen()
    out = run.measure_loop(gen, [["a1", "a2"], ["b1"]], 0, float("inf"))
    assert gen.sent == ["a1", "a2", "b1", "b1"]
    assert [p["kept"] for p in out] == [True, False, True]
    assert [round(p["steal"], 2) for p in out] == [0.0, 0.30, 0.0]


def test_retries_end_at_the_deadline_and_the_last_attempt_is_kept(
        monkeypatch):
    run = _steal_feed(monkeypatch, [0.5] * 5)
    clock = iter([0.0, 1.0, 2.0, 3.0, 4.0])
    monkeypatch.setattr(run.time, "monotonic", lambda: next(clock))
    gen = _FakeGen()
    out = run.measure_loop(gen, [["a"], ["b"]], 0, 1.5)
    assert gen.sent == ["a", "a", "a", "b"]
    assert [p["kept"] for p in out] == [False, False, True, True]


def test_no_retries_after_the_deadline(monkeypatch):
    run = _steal_feed(monkeypatch, [0.5, 0.5])
    gen = _FakeGen()
    out = run.measure_loop(gen, [["a"], ["b"]], 0, 0.0)
    assert gen.sent == ["a", "b"]
    assert all(p["kept"] for p in out)


def test_gate_waits_no_longer_than_the_checkout_budget(monkeypatch, tmp_path):
    from perfbench import run
    asked = []

    def wait(threshold, poll_s, max_wait_s):
        asked.append(max_wait_s)
        return 0.0
    monkeypatch.setattr(run, "_await_low_steal", wait)
    monkeypatch.setattr(run, "GATE_LEDGER", str(tmp_path / "ledger"))
    (tmp_path / "ledger").write_text(str(run.GATE_BUDGET_S - 20))
    run.gate(60)
    run.gate(5)
    (tmp_path / "ledger").write_text(str(run.GATE_BUDGET_S + 1))
    run.gate(60)
    assert asked == [20, 5, 0]
    assert float((tmp_path / "ledger").read_text()) >= run.GATE_BUDGET_S + 1
