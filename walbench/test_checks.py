"""Checker self-test: each check passes on a correct output and fails on
a corrupted one. Needs no Spark.

    python3 walbench/test_checks.py      (or: python3 -m pytest walbench/test_checks.py)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import (  # noqa: E402
    check_counts,
    check_lane_survivors,
    check_log_order,
    check_shards,
    check_wire,
)


def _log_case():
    inp = gen.log_inputs(7, chunk_rows=50, n_chunks=2, seconds=1, rate_hz=5, entries_per_call=3, n_late=2)
    appended = [e.seq for c in inp.calls for e in c] + [e.seq for e in inp.late]
    rows, next_off = [], {}
    for e in inp.backlog() + [e for c in inp.calls for e in c] + inp.late:
        t = gen.topic_name(e.topic)
        next_off[t] = next_off.get(t, 0) + 1
        rows.append((t, next_off[t], e.value()))
    groups = [[e.seq for e in c] for c in inp.chunks]
    return inp, rows, groups, appended


def test_log_order_accepts_correct_output():
    _inp, rows, groups, appended = _log_case()
    assert check_log_order(rows, groups, appended)[1]


def test_log_order_catches_dropped_entry():
    _inp, rows, groups, appended = _log_case()
    assert not check_log_order(rows[:10] + rows[11:], groups, appended)[1]


def test_log_order_catches_duplicated_entry():
    _inp, rows, groups, appended = _log_case()
    t, _o, v = rows[3]
    last = max(o for tt, o, _v in rows if tt == t)
    assert not check_log_order(rows + [(t, last + 1, v)], groups, appended)[1]


def test_log_order_catches_reordered_appends():
    _inp, rows, groups, appended = _log_case()
    live = [i for i, r in enumerate(rows) if gen.parse_payload(r[2])[0] in set(appended)]
    by_topic = {}
    for i in live:
        by_topic.setdefault(rows[i][0], []).append(i)
    i, j = next(v for v in by_topic.values() if len(v) >= 2)[:2]
    bad = list(rows)
    bad[i], bad[j] = (rows[i][0], rows[i][1], rows[j][2]), (rows[j][0], rows[j][1], rows[i][2])
    assert not check_log_order(bad, groups, appended)[1]


def test_counts_catch_a_lost_and_a_late_window():
    inp, *_ = _log_case()
    want = inp.expected_counts()
    assert check_counts(want, dict(want))[1]
    k = next(iter(want))
    assert not check_counts(want, {**want, k: want[k] - 1})[1]
    late = inp.late[0]
    lk = (late.et_ms - late.et_ms % gen.WINDOW_MS, gen.topic_name(late.topic))
    assert not check_counts(want, {**want, lk: 1})[1]


def _wire_case():
    backlog = [gen.wire_payload(i, 8) for i in range(1, 21)]
    puts = [[gen.wire_payload(100 + 2 * k, 8) for k in range(5)], [gen.wire_payload(101 + 2 * k, 8) for k in range(5)]]
    order = backlog + [p for pair in zip(*puts) for p in pair]
    log_rows = [(i + 1, p) for i, p in enumerate(order)]
    gets = [order[0:12:2], order[1:12:2]]
    return log_rows, backlog, puts, gets


def test_wire_accepts_correct_output():
    assert check_wire(*_wire_case())[1]


def test_wire_catches_dropped_put():
    log_rows, backlog, puts, gets = _wire_case()
    dropped = [r for r in log_rows if r[1] != puts[0][2]]
    dropped = [(i + 1, p) for i, (_o, p) in enumerate(dropped)]
    assert not check_wire(dropped, backlog, puts, gets)[1]


def test_wire_catches_duplicated_get():
    log_rows, backlog, puts, gets = _wire_case()
    assert not check_wire(log_rows, backlog, puts, [gets[0] + [gets[1][0]], gets[1]])[1]


def test_wire_catches_out_of_order_get():
    log_rows, backlog, puts, gets = _wire_case()
    g0 = list(gets[0])
    g0[1], g0[2] = g0[2], g0[1]
    assert not check_wire(log_rows, backlog, puts, [g0, gets[1]])[1]


def test_wire_catches_gap_in_gets():
    log_rows, backlog, puts, gets = _wire_case()
    assert not check_wire(log_rows, backlog, puts, [gets[0][:-1] + [log_rows[14][1]], gets[1]])[1]


def _lane_case():
    inp = gen.lane_inputs(3, 150)
    texts = dict(inp.docs)
    train = inp.expected_train()
    rows = []
    for s in range(gen.N_SHARDS):
        ids = sorted((d for d in train if gen.shard_of(d) == s), key=gen.shard_key)
        rows += [(s, i, d, texts[d]) for i, d in enumerate(ids)]
    return inp, texts, rows


def test_lane_survivors_catch_surviving_near_dup():
    inp, _t, _r = _lane_case()
    ok = check_lane_survivors(inp.survivors, set(inp.survivors), inp.near_dup_losers, inp.contaminated)
    assert ok[1]
    loser = min(inp.near_dup_losers)
    bad = check_lane_survivors(inp.survivors, inp.survivors | {loser}, inp.near_dup_losers, inp.contaminated)
    assert not bad[1] and "near-dup" in bad[2]


def test_shards_catch_contaminated_doc():
    inp, texts, rows = _lane_case()
    assert check_shards(inp.expected_train(), texts, rows)[1]
    d = min(inp.contaminated)
    s = gen.shard_of(d)
    n = sum(1 for r in rows if r[0] == s)
    assert not check_shards(inp.expected_train(), texts, rows + [(s, n, d, texts[d])])[1]


def test_shards_catch_dropped_and_duplicated_rows():
    inp, texts, rows = _lane_case()
    assert not check_shards(inp.expected_train(), texts, rows[1:])[1]
    assert not check_shards(inp.expected_train(), texts, rows + [rows[0]])[1]


if __name__ == "__main__":
    names = [n for n in sorted(globals()) if n.startswith("test_")]
    for n in names:
        globals()[n]()
        print(f"ok {n}")
    print(f"{len(names)} passed")
