"""Output checks. Each takes the generator's ground truth and what the
program produced, and returns ``(name, ok, detail)``. Expected values
come from the generator only; ``test_checks.py`` feeds each check a
corrupted output and requires it to fail.
"""

from __future__ import annotations

import gen


def _ok(name: str, problems: list) -> tuple:
    return (name, not problems, "; ".join(map(str, problems[:5])) or "ok")


def check_counts(expected: dict, got: dict) -> tuple:
    """Windowed counts equal the recount of the generated events, and
    no window the generator did not populate (a planted late entry's)
    was emitted."""
    problems = [f"{k}: want {v} got {got.get(k)}" for k, v in sorted(expected.items()) if got.get(k) != v]
    problems += [f"{k}: unexpected window with {got[k]}" for k in sorted(set(got) - set(expected))]
    return _ok("windowed_counts", problems)


def check_log_order(logged, backlog_groups, appended) -> tuple:
    """Every generated entry is in the log exactly once under its own
    topic, offsets are dense from 1 per topic, each ingest commit comes
    after the previous one, and appended entries keep append order.

    ``logged``: (topic, offset, payload) rows; ``backlog_groups``: seqs
    per ingest commit, in commit order; ``appended``: seqs in the order
    they were appended after the backlog."""
    rank: dict[int, tuple[int, int]] = {}
    for g, seqs in enumerate(backlog_groups):
        for s in seqs:
            rank[s] = (g, 0)
    for i, s in enumerate(appended):
        rank[s] = (len(backlog_groups), i)
    problems = []
    by_topic: dict[str, list] = {}
    seen: dict[int, int] = {}
    for topic, off, val in logged:
        seq, tix, _et = gen.parse_payload(val)
        seen[seq] = seen.get(seq, 0) + 1
        if gen.topic_name(tix) != topic:
            problems.append(f"seq {seq} under topic {topic}")
        by_topic.setdefault(topic, []).append((off, seq))
    dup = [s for s, n in seen.items() if n > 1]
    if dup:
        problems.append(f"duplicated seqs {sorted(dup)[:5]}")
    missing = set(rank) - set(seen)
    if missing:
        problems.append(f"missing seqs {sorted(missing)[:5]} ({len(missing)})")
    extra = set(seen) - set(rank)
    if extra:
        problems.append(f"unexpected seqs {sorted(extra)[:5]}")
    for topic, rows in by_topic.items():
        rows.sort()
        offs = [o for o, _s in rows]
        if offs != list(range(1, len(offs) + 1)):
            problems.append(f"topic {topic}: offsets not dense from 1")
        keys = [rank.get(s, (-1, -1)) for _o, s in rows]
        if any(a > b for a, b in zip(keys, keys[1:])):
            problems.append(f"topic {topic}: entries out of commit/append order")
    return _ok("log_exactly_once_in_order", problems)


def check_wire(log_rows, backlog, puts_by_conn, gets_by_conn) -> tuple:
    """The wire topic holds the backlog then every acknowledged PUT,
    each exactly once, with dense offsets; each PUT connection's entries
    keep send order; GET replies deliver each entry at most once, in
    offset order per connection, and together a gap-free prefix.

    ``log_rows``: (offset, payload str) of the topic after the run;
    ``backlog``: preloaded payloads in order; ``puts_by_conn``: per PUT
    connection, acknowledged payloads in send order; ``gets_by_conn``:
    per GET connection, delivered payloads in reply order."""
    problems = []
    rows = sorted(log_rows)
    offs = [o for o, _p in rows]
    if offs != list(range(1, len(offs) + 1)):
        problems.append("offsets not dense from 1")
    at: dict[str, int] = {}
    for o, p in rows:
        if p in at:
            problems.append(f"payload {p[:20]!r} at offsets {at[p]} and {o}")
        at[p] = o
    for i, p in enumerate(backlog):
        if at.get(p) != i + 1:
            problems.append(f"backlog entry {i + 1} at offset {at.get(p)}")
            break
    acked = set()
    for c, ps in enumerate(puts_by_conn):
        last = len(backlog)
        for p in ps:
            acked.add(p)
            o = at.get(p)
            if o is None:
                problems.append(f"acknowledged PUT {p[:20]!r} (conn {c}) missing")
                continue
            if o <= last:
                problems.append(f"PUT conn {c}: {p[:20]!r} at {o} not after {last}")
            last = o
    unacked = [p for p in at if p not in acked and at[p] > len(backlog)]
    if unacked:
        problems.append(f"{len(unacked)} entries that no PUT acknowledged")
    delivered = []
    for c, gs in enumerate(gets_by_conn):
        last = 0
        for p in gs:
            o = at.get(p)
            if o is None:
                problems.append(f"GET conn {c} got unknown payload {p[:20]!r}")
                continue
            if o <= last:
                problems.append(f"GET conn {c}: offset {o} after {last}")
            last = o
            delivered.append(o)
    if len(delivered) != len(set(delivered)):
        problems.append(f"{len(delivered) - len(set(delivered))} entries delivered twice")
    if set(delivered) != set(range(1, len(set(delivered)) + 1)):
        problems.append("delivered offsets are not a gap-free prefix")
    return _ok("wire_exactly_once_in_order", problems)


def check_lane_survivors(expected: set, got: set, planted_losers: set, contaminated: set) -> tuple:
    """The doc set surviving filter, dedup and decontamination equals
    the planted ground truth."""
    problems = []
    if got & planted_losers:
        problems.append(f"planted near-dups survived: {sorted(got & planted_losers)[:5]}")
    if got & contaminated:
        problems.append(f"contaminated docs survived: {sorted(got & contaminated)[:5]}")
    if expected - got:
        problems.append(f"{len(expected - got)} expected survivors missing, e.g. {sorted(expected - got)[:5]}")
    if got - expected:
        problems.append(f"{len(got - expected)} unexpected survivors, e.g. {sorted(got - expected)[:5]}")
    return _ok("lane_survivors", problems)


def check_shards(expected_train: set, texts: dict, shard_rows) -> tuple:
    """Shard files hold exactly the expected train docs (the planted
    ground truth plus the documented Knuth-hash split rule), each once,
    with its own text, in the shard md5("42:<id>") assigns, and in key
    order within the shard.

    ``shard_rows``: (shard, file row index, doc_id, text) in file order."""
    problems = []
    ids = [d for _s, _i, d, _t in shard_rows]
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} duplicated rows")
    got = set(ids)
    if got - expected_train:
        bad = sorted(got - expected_train)
        problems.append(f"{len(bad)} docs not expected in train shards, e.g. {bad[:5]}")
    if expected_train - got:
        problems.append(f"{len(expected_train - got)} train docs missing from shards")
    by_shard: dict[int, list] = {}
    for s, i, d, t in shard_rows:
        if texts.get(d) != t:
            problems.append(f"doc {d}: text differs")
        if gen.shard_of(d) != s:
            problems.append(f"doc {d} in shard {s}, rule says {gen.shard_of(d)}")
        by_shard.setdefault(s, []).append((i, d))
    for s, rows in by_shard.items():
        keys = [gen.shard_key(d) for _i, d in sorted(rows)]
        if keys != sorted(keys):
            problems.append(f"shard {s} not in key order")
    return _ok("shard_files", problems)
