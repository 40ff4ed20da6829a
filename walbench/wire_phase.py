"""The wire phase of log_stream: the wire plane under closed loops.

``python -m walrus_spark.cli serve`` runs as a child process over a log
of its own, preloaded with BACKLOG entries on one topic in
BACKLOG_COMMITS commits. Four connections from one process run closed
loops on that topic, in two steps:

1. GET: two connections send GETs until a fixed number of replies, a
   whole number of read-ahead windows (READAHEAD_ENTRIES) after one
   warm-up window. Every run makes the same refills over the same
   commits, so the GET figures do not depend on how many refills land
   in a time window.
2. PUT: two connections send PUTs until a fixed number of replies after
   PUT_WARMUP warm-up replies.

The steps do not overlap because a GET refill's ``peek_range`` cost
grows with the topic's commit count (about 1 s for 1024 entries over 15
commits, 5-8 s over 265) and every PUT group commit adds a commit: with
PUTs running, a 10 s window sees zero to two refills. The reply counts
scale with the phase's seconds so that each step takes about half of
them on a 4-vCPU host.

This phase is the benchmark's only load on the PUT group commit and the
GET read-ahead of commands.py. Its figures are per-layer metrics: their
run-to-run spread is too wide for an end-to-end bound.

Checks: after the server stops, the topic holds the backlog and every
acknowledged PUT exactly once with dense offsets, each PUT connection's
entries in send order; GET replies delivered each entry at most once,
in offset order per connection, and together a gap-free prefix.
Failures: ERR replies, connection errors, and EMPTY replies (the
backlog always outlasts the GET step).
"""

from __future__ import annotations

import bisect
import json
import os
import signal
import subprocess
import sys
import threading
import time

import gen
from checks import check_wire
from common import checkout_root, pct, summary, tail_ms
from tracing import Tracer

BACKLOG = 15_000
BACKLOG_COMMITS = 15
# GET replies per second and PUT replies per second of a 4-vCPU host;
# they size each phase to about half of --seconds
NOMINAL_GET_PER_S = 1500.0
NOMINAL_PUT_PER_S = 250.0
PUT_WARMUP = 40
READY_TIMEOUT_S = 120.0
STOP_TIMEOUT_S = 60.0


def _start_server(work, root, traced: bool):
    here = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(work.sub("serve"), "stdout.txt")
    err = os.path.join(work.sub("serve"), "stderr.txt")
    spans = os.path.join(work.sub("serve"), "spans.json")
    serve = ["serve", "--root", root, "--listen", "127.0.0.1:0"]
    if traced:
        cmd = [sys.executable, os.path.join(here, "serve_child.py"), "--spans", spans, "--", *serve]
    else:
        cmd = [sys.executable, "-m", "walrus_spark.cli", *serve]
    fo, fe = open(out, "w"), open(err, "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=checkout_root(), stdout=fo, stderr=fe, start_new_session=True)
    fo.close()
    fe.close()
    port = None
    while time.perf_counter() - t0 < READY_TIMEOUT_S:
        if proc.poll() is not None:
            raise RuntimeError(f"serve exited with {proc.returncode}: {open(err).read()[-2000:]}")
        with open(out) as f:
            for line in f:
                if line.startswith("serving ") and " on " in line:
                    port = int(line.rsplit(":", 1)[1])
        if port is not None:
            break
        time.sleep(0.05)
    if port is None:
        _stop_server(proc)
        raise RuntimeError("serve did not start")
    from walrus_spark.log import CommandClient

    c = CommandClient("127.0.0.1", port)
    try:
        reply = c.send(f"REGISTER {gen.WIRE_TOPIC}")
    finally:
        c.close()
    if reply != "OK":
        _stop_server(proc)
        raise RuntimeError(f"REGISTER replied {reply!r}")
    return proc, port, time.perf_counter() - t0, spans


def _stop_server(proc) -> None:
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait(timeout=30)
    # the serve process's JVM exits with it; reap any straggler in its group
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


class ClosedLoop:
    """Closed loops on ``conns`` connections until ``warm + timed``
    frames in total; frame k >= warm is timed. ``frame(c)`` makes
    connection c's next frame, ``ok(reply)`` tells an acknowledgement."""

    def __init__(self, port: int, conns: int, warm: int, timed: int, frame, ok) -> None:
        self.port = port
        self.conns = conns
        self.warm = warm
        self.total = warm + timed
        self.frame = frame
        self.ok = ok
        self.lock = threading.Lock()
        self.issued = 0
        self.ops: list[list] = [[] for _ in range(conns)]  # (k, start, end, frame, reply)
        self.fail = {"err": 0, "conn": 0}

    def _conn(self, c: int) -> None:
        from walrus_spark.log import CommandClient

        cl = CommandClient("127.0.0.1", self.port)
        try:
            while True:
                with self.lock:
                    if self.issued >= self.total:
                        break
                    k = self.issued
                    self.issued += 1
                line = self.frame(c)
                t0 = time.perf_counter()
                try:
                    r = cl.send(line)
                except OSError:
                    with self.lock:
                        self.fail["conn"] += 1
                    break
                self.ops[c].append((k, t0, time.perf_counter(), line, r))
                if not self.ok(r):
                    with self.lock:
                        self.fail["err"] += 1
        finally:
            cl.close()

    def run(self) -> "ClosedLoop":
        ths = [threading.Thread(target=self._conn, args=(c,)) for c in range(self.conns)]
        for t in ths:
            t.start()
        for t in ths:
            t.join()
        return self

    def timed(self):
        """(latencies s, acknowledged count, wall s) of the timed frames:
        from the first timed frame's start to the last frame's end."""
        ops = [o for per in self.ops for o in per]
        timed = [o for o in ops if o[0] >= self.warm]
        if not timed:
            return [], 0, float("nan")
        t0 = min(o[1] for o in timed)
        t1 = max(o[2] for o in ops)
        return [o[2] - o[1] for o in timed], sum(self.ok(o[4]) for o in timed), t1 - t0

    def replies(self, c: int) -> list[tuple[str, str]]:
        return [(line, r) for _k, _a, _b, line, r in self.ops[c]]


def phase_sizes(seconds: float) -> tuple[int, int]:
    """(timed GET replies, timed PUT replies) for a phase of ``seconds``.
    The GET step, warm-up window included, stays inside the backlog."""
    from walrus_spark.log.commands import READAHEAD_ENTRIES

    windows = max(2, round(seconds / 2 * NOMINAL_GET_PER_S / READAHEAD_ENTRIES))
    windows = min(windows, BACKLOG // READAHEAD_ENTRIES - 1)
    return windows * READAHEAD_ENTRIES, max(100, round(seconds / 2 * NOMINAL_PUT_PER_S))


def _server_layers(spans_path: str) -> dict:
    """Per-layer metrics from the traced serve child's spans."""
    with open(spans_path) as f:
        data = json.load(f)
    tr = Tracer()
    tr.spans = data["spans"]

    def per_call(name):
        sp = tr.named(name)
        return sum(s.get("entries", 0) for s in sp) / len(sp) if sp else 0.0

    out = {"commands.group_commit.entries": per_call("wal.multi_append")}
    for name in ("wal.peek_range", "wal.commit_cursor"):
        st = tr.layer_stats(name, name)
        out[f"{name}.calls"] = st[f"{name}.calls"]
        out[f"{name}.p50_ms"] = st[f"{name}.p50_ms"]
    out["wal.peek_range.entries_per_call"] = per_call("wal.peek_range")
    ex = tr.named("commands.execute")
    peeks = len(tr.named("wal.peek_range"))
    gets_ok = sum(1 for s in ex if s.get("op") == "GET" and s.get("reply") == "OK")
    out["commands.readahead.frames_per_peek"] = gets_ok / peeks if peeks else 0.0
    # PUT wait: server-side PUT time minus the commit that carried it
    # (the last multi_append to finish before the PUT replied)
    ends = sorted((s["end"], s["end"] - s["start"]) for s in tr.named("wal.multi_append"))
    keys = [e for e, _d in ends]
    waits = []
    for s in ex:
        if s.get("op") != "PUT":
            continue
        i = bisect.bisect_right(keys, s["end"]) - 1
        if i >= 0:
            waits.append((s["end"] - s["start"]) - ends[i][1])
    out["commands.put_wait_p50_ms"] = pct(waits, 50) * 1000 if waits else 0.0
    out["trace.spans"] = len(tr.spans)
    return out


def run(spark, work, seed: int, seconds: float, tracer, rss) -> dict:
    from walrus_spark.log.commands import READAHEAD_ENTRIES
    from walrus_spark.log.wal import WalrusLog

    n_get, n_put = phase_sizes(seconds)
    backlog = gen.wire_backlog(seed, BACKLOG)
    root = work.sub("log")
    log = WalrusLog(spark, root)
    log.ensure_topic(gen.WIRE_TOPIC)
    step = BACKLOG // BACKLOG_COMMITS
    for i in range(0, BACKLOG, step):
        log.multi_append({gen.WIRE_TOPIC: backlog[i : i + step]})
    log.close()

    payloads = [gen.wire_put_payloads(seed, c, BACKLOG + 1) for c in range(2)]
    put_frame = f"PUT {gen.WIRE_TOPIC} "
    proc, port, ready_s, spans_path = _start_server(work, root, traced=tracer is not None)
    try:
        t0 = time.perf_counter()
        gets = ClosedLoop(
            port, 2, READAHEAD_ENTRIES, n_get, lambda _c: f"GET {gen.WIRE_TOPIC}", lambda r: r.startswith("OK ")
        ).run()
        t1 = time.perf_counter()
        puts = ClosedLoop(
            port, 2, PUT_WARMUP, n_put, lambda c: put_frame + next(payloads[c]), lambda r: r == "OK"
        ).run()
        t2 = time.perf_counter()
    finally:
        _stop_server(proc)

    with rss.paused():
        # each PUT commit is a path of its own; listing them on the
        # driver takes milliseconds, a parallel listing job ~10 s
        spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 30))
        log = WalrusLog(spark, root)
        rows = [
            (int(r["offset"]), bytes(r["value"]).decode())
            for r in log.topic_df(gen.WIRE_TOPIC).select("offset", "value").collect()
        ]
        log.close()
        spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.threshold")
    get_lat, get_ok, get_wall = gets.timed()
    put_lat, put_ok, put_wall = puts.timed()
    get_replies = [r for c in range(2) for _l, r in gets.replies(c)]
    empty = sum(r == "EMPTY" for r in get_replies)
    layer = {
        "wire.put_per_s": put_ok / put_wall,
        "wire.get_per_s": get_ok / get_wall,
        "wire.get_p50_ms": pct(get_lat, 50) * 1000 if get_lat else 0.0,
        "wire.put_p50_ms": pct(put_lat, 50) * 1000 if put_lat else 0.0,
        "wire.put_tail_ms": tail_ms(put_lat),
        "wire.get_tail_ms": tail_ms(get_lat),
        "commands.get_empty_ratio": empty / max(1, len(get_replies)),
    }
    if tracer is not None:
        layer.update(_server_layers(spans_path))
    acked = [[line[len(put_frame) :] for line, r in puts.replies(c) if r == "OK"] for c in range(2)]
    got = [[r[3:] for _l, r in gets.replies(c) if r.startswith("OK ")] for c in range(2)]
    check = check_wire(rows, [b.decode() for b in backlog], acked, got)
    failures = {
        "put_err": puts.fail["err"],
        "get_err": gets.fail["err"] - empty,
        "empty_with_backlog": empty,
        "conn": puts.fail["conn"] + gets.fail["conn"],
    }
    return {
        "layer": layer,
        "samples": {
            **summary(put_lat, "put_ms"),
            **summary(get_lat, "get_ms"),
            "serve_ready_s": ready_s,
            "get_step_s": t1 - t0,
            "put_step_s": t2 - t1,
            "get_wall_s": get_wall,
            "put_wall_s": put_wall,
            "failures": failures,
            "get_frames": len(get_replies),
            "put_frames": sum(len(p) for p in puts.ops),
        },
        "attempted": gets.issued + puts.issued,
        "failed": sum(failures.values()),
        "checks": [check],
        "cost": get_wall + put_wall,
    }
