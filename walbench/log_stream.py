"""log_stream: bulk ingest, availableNow catch-up, a live tail and the
wire plane.

1. ``WalrusLog.ingest`` of a seeded backlog (Zipf-skewed topics, mixed
   payload sizes) in ``N_CHUNKS`` commits of ``CHUNK_ROWS`` rows — each
   above the 10k-row small-commit path, so the distributed ingest runs.
   A warm-up on a log of its own (one commit, one availableNow query)
   comes first, so that no measured phase pays the JVM's warm-up.
2. An availableNow catch-up of ``windowed_counts`` over the event time
   stamped in each payload (update mode, foreachBatch sink).
3. A live tail: one producer thread calls ``multi_append`` on a fixed
   schedule (open loop, ``RATE_HZ`` calls of ``PER_CALL`` entries) while
   the same query runs on a processing-time trigger.
4. The wire phase (``wire_phase.py``) for half of the seconds, on a log
   of its own: GET then PUT closed loops against a serve child. Its
   figures are per-layer metrics only.

Checks: windowed counts equal the recount of the generated events;
planted late entries — appended only once the query has used a
watermark past them — are exactly the rows dropped by the watermark;
every entry is in the log exactly once with dense offsets, appended
entries in append order and each ingest commit after the previous one;
plus the wire phase's exactly-once and order checks.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import wire_phase
from common import SubDir, dir_stats, pct, summary, tail_ms
from tracing import all_job_ids, prefixed, spark_jobs_record

# The backlog is the size of bench.py's sf0.1 events table, 100k rows,
# in five commits. At this size a commit still spends about half its
# time in per-commit cost (4 vCPU: 1k rows 0.37 s, 15k 0.72 s, 30k
# 0.77 s), so the reported rate moves with both the fixed and the
# per-row cost of ingest.
CHUNK_ROWS = 20_000
N_CHUNKS = 5
# The tail rate is set from the stream's measured capacity, not from a
# traffic trace: at 2000 entries/s each 250 ms trigger's batch (~0.6 s,
# mostly per-batch cost) carries ~1.2k entries and the backlog stays
# bounded; catch-up runs at ~17k rows/s, so the tail is not saturated.
RATE_HZ = 10.0
PER_CALL = 200
N_LATE = 24
TRIGGER = "250 milliseconds"
DRAIN_TIMEOUT_S = 60.0
LATE_WAIT_S = 30.0


def _query(spark, log, ckpt, sink, available_now: bool):
    import pyspark.sql.functions as F

    from walrus_spark.streaming import stream

    src = stream.read_log_stream(spark, log, max_files_per_trigger=100_000)
    parts = F.split(F.col("value").cast("string"), r"\|")
    ev = src.select("topic", F.timestamp_millis(parts[2].cast("long")).alias("et"))
    agg = stream.windowed_counts(
        ev,
        window=f"{gen.WINDOW_MS // 1000} seconds",
        watermark=f"{gen.WATERMARK_MS // 1000} seconds",
        ts_col="et",
        key_col="topic",
    )
    out = agg.select(F.unix_millis(F.col("w.start")).alias("ws"), "topic", "n")
    w = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=TRIGGER)
    return w.start()


class Sink:
    """foreachBatch sink: collects each emission and stamps its time."""

    def __init__(self) -> None:
        self.emissions: list[tuple[float, list[tuple[int, str, int]]]] = []
        self.lock = threading.Lock()

    def __call__(self, df, batch_id) -> None:
        rows = [(int(r["ws"]), r["topic"], int(r["n"])) for r in df.collect()]
        t = time.perf_counter()
        with self.lock:
            self.emissions.append((t, rows))

    def latest_counts(self) -> dict:
        out: dict = {}
        with self.lock:
            for _t, rows in self.emissions:
                for ws, topic, n in rows:
                    out[(ws, topic)] = n
        return out


def _watermark_ms(progress) -> int | None:
    wm = (progress or {}).get("eventTime", {}).get("watermark")
    if not wm:
        return None
    dt = datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _grouped(entries) -> dict:
    out: dict = {}
    for e in entries:
        out.setdefault(gen.topic_name(e.topic), []).append(e.value())
    return out


def run(spark, work, seed: int, seconds: float, tracer, rss) -> dict:
    from walrus_spark.log.wal import WalrusLog

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    inp = gen.log_inputs(seed, CHUNK_ROWS, N_CHUNKS, seconds, RATE_HZ, PER_CALL, N_LATE)
    chunk_paths = []
    for c, chunk in enumerate(inp.chunks):
        p = os.path.join(work.sub("input"), f"chunk{c}.parquet")
        pq.write_table(
            pa.table(
                {
                    "topic": [gen.topic_name(e.topic) for e in chunk],
                    "value": [e.value() for e in chunk],
                }
            ),
            p,
        )
        chunk_paths.append(p)
    # phase 0: one commit and one availableNow query on a log of their
    # own, so that no measured phase pays the JVM's warm-up; the first
    # commit of a cold JVM takes ~7 s against ~1 s warm
    t0 = time.perf_counter()
    warm = WalrusLog(spark, work.sub("warm", "log"))
    warm.ingest(spark.read.parquet(chunk_paths[0]), "topic", "value")
    _query(spark, warm, work.sub("warm", "ckpt"), Sink(), available_now=True).awaitTermination()
    warm.close()
    warm_s = time.perf_counter() - t0

    root = work.sub("log")
    ckpt = work.sub("ckpt")
    log = WalrusLog(spark, root)
    if tracer is not None:
        _install(tracer)
    attempted = failed = 0
    jobs0 = set(all_job_ids(spark))
    marks = [("start", time.perf_counter())]

    # phase 1: bulk ingest
    ingest_s = []
    for p in chunk_paths:
        df = spark.read.parquet(p)
        t0 = time.perf_counter()
        log.ingest(df, "topic", "value")
        ingest_s.append(time.perf_counter() - t0)
        attempted += 1
    ingest_rate = CHUNK_ROWS * N_CHUNKS / sum(ingest_s)
    jobs1 = set(all_job_ids(spark))
    marks.append(("ingest", time.perf_counter()))

    # phase 2: availableNow catch-up
    sink = Sink()
    t0 = time.perf_counter()
    q = _query(spark, log, ckpt, sink, available_now=True)
    q.awaitTermination()
    catchup_s = time.perf_counter() - t0
    attempted += 1
    progress = list(q.recentProgress)
    jobs2 = set(all_job_ids(spark))
    marks.append(("catchup", time.perf_counter()))

    # phase 3: live tail
    q2 = _query(spark, log, ckpt, sink, available_now=False)
    lat: list[float] = []
    late_run: list[float] = []
    created: list[tuple[float, object]] = []  # (creation stamp, entry)
    appended: list[int] = []  # seqs in append order
    state = {"late_appended": False, "late_failed": False, "errors": 0}

    def producer() -> None:
        t_start = time.perf_counter() + 0.5
        for k, call in enumerate(inp.calls):
            due = t_start + k * inp.period_s
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            start = time.perf_counter()
            late_run.append(start - due)
            for e in call:
                created.append((start, e))
            try:
                log.multi_append(_grouped(call))
                appended.extend(e.seq for e in call)
            except Exception:  # noqa: BLE001 — counted as a failed append
                state["errors"] += 1
            lat.append(time.perf_counter() - due)
            if k >= inp.late_at_call and k % 10 == 0:
                append_late()

    def append_late() -> None:
        """Append the planted late entries once the query has used a
        watermark past them (every later batch then drops them)."""
        if state["late_appended"] or state["late_failed"]:
            return
        wm = _watermark_ms(q2.lastProgress)
        if wm is None or wm <= max(e.et_ms for e in inp.late):
            return
        try:
            log.multi_append(_grouped(inp.late))
            state["late_appended"] = True
            appended.extend(e.seq for e in inp.late)
        except Exception:  # noqa: BLE001 — counted as a failed append
            state["errors"] += 1
            state["late_failed"] = True

    th = threading.Thread(target=producer, name="walbench-producer")
    th.start()
    th.join()
    # a slow host may not have reported the watermark during the schedule
    deadline = time.perf_counter() + LATE_WAIT_S
    while not (state["late_appended"] or state["late_failed"]) and time.perf_counter() < deadline:
        append_late()
        time.sleep(0.1)
    marks.append(("tail", time.perf_counter()))
    attempted += len(inp.calls) + 1
    failed += state["errors"] + (0 if state["late_appended"] or state["late_failed"] else 1)
    expected = inp.expected_counts()
    want_dropped = len(inp.late) if state["late_appended"] else 0
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while time.perf_counter() < deadline:
        got = sink.latest_counts()
        if all(got.get(k) == v for k, v in expected.items()) and (
            _dropped(progress + list(q2.recentProgress)) >= want_dropped
        ):
            break
        time.sleep(0.1)
    # stop between triggers: stopping mid-batch interrupts the stream
    # thread inside a file listing
    deadline = time.perf_counter() + 10.0
    while q2.status.get("isTriggerActive") and time.perf_counter() < deadline:
        time.sleep(0.02)
    q2.stop()
    progress += list(q2.recentProgress)
    jobs3 = set(all_job_ids(spark))
    marks.append(("drain", time.perf_counter()))

    # outputs for the checks
    counts = sink.latest_counts()
    with rss.paused():
        logged = [
            (r["topic"], int(r["offset"]), bytes(r["value"]))
            for r in log.df().select("topic", "offset", "value").collect()
        ]
    metrics_now = log.metrics()
    marks.append(("readback", time.perf_counter()))
    files, disk_bytes = dir_stats(root)
    log.close()

    lags, backlog_max = _tail_lags(inp, created, sink.emissions, expected)
    e2e = {
        "write_per_s": ingest_rate,
        "read_per_s": inp_rows(inp) / catchup_s,
        "read_p50_ms": pct(lags, 50) * 1000 if lags else float("nan"),
    }
    samples = {
        **summary(lat, "append_ms"),
        **summary(lags, "tail_lag_ms"),
        **summary(late_run, "loadgen_late_ms"),
        "warmup_s": warm_s,
        "ingest_s": ingest_s,
        "catchup_s": catchup_s,
        "phase_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
    }
    user_bytes = sum(len(v) for *_x, v in logged)
    dropped = _dropped(progress)
    layer = {
        "wal.fsync_count": metrics_now["fsync_count"],
        "wal.committed_batches": metrics_now["committed_batches"],
        "wal.bytes_per_user_byte": disk_bytes / max(1, user_bytes),
        "wal.files": files,
        "streaming.rows_dropped_late": dropped,
        "streaming.backlog_max": backlog_max,
        "streaming.checkpoint_files": sum(len(fs) for _d, _s, fs in os.walk(ckpt)),
        "loadgen.late_tail_ms": tail_ms(late_run),
        "loadgen.append_p50_ms": pct(lat, 50) * 1000,
        "loadgen.append_tail_ms": tail_ms(lat),
        "streaming.lag_tail_ms": tail_ms(lags),
        **_streaming_layers(progress),
    }
    if tracer is not None:
        tracer.unwrap_all()
        layer.update(_wal_layers(tracer))
        layer.update(
            prefixed(spark_jobs_record(spark, (jobs3 - jobs0)), "spark")
        )
        samples["spark_by_phase"] = {
            "ingest": spark_jobs_record(spark, jobs1 - jobs0),
            "catchup": spark_jobs_record(spark, jobs2 - jobs1),
            "tail": spark_jobs_record(spark, jobs3 - jobs2),
        }
    checks = check_outputs(inp, counts, logged, dropped, state["late_appended"], appended)

    # phase 4: the wire plane, on a log of its own
    t0 = time.perf_counter()
    wire = wire_phase.run(spark, SubDir(work.sub("wire")), seed, seconds / 2, tracer, rss)
    samples["phase_s"]["wire"] = round(time.perf_counter() - t0, 3)
    samples["wire"] = wire["samples"]
    layer.update(wire["layer"])
    return {
        "e2e": e2e,
        "layer": layer,
        "samples": samples,
        "attempted": attempted + wire["attempted"],
        "failed": failed + wire["failed"],
        "checks": checks + wire["checks"],
        "cost": sum(ingest_s) + catchup_s + wire["cost"],
    }


def inp_rows(inp) -> int:
    return sum(len(c) for c in inp.chunks)


def _tail_lags(inp, created, emissions, expected):
    """Lag of each live entry from its creation stamp to the first
    emission whose count for the entry's (window, topic) includes it.
    A micro-batch takes every file committed before it was planned, so
    entries of one (window, topic) reach the counts in append order and
    the k-th of them is included once the emitted count reaches
    (backlog entries of that key) + k."""
    base: dict = {}
    for e in inp.backlog():
        k = (e.et_ms - e.et_ms % gen.WINDOW_MS, gen.topic_name(e.topic))
        base[k] = base.get(k, 0) + 1
    rank: dict = {}
    need = []
    for ct, e in created:
        k = (e.et_ms - e.et_ms % gen.WINDOW_MS, gen.topic_name(e.topic))
        rank[k] = rank.get(k, base.get(k, 0)) + 1
        need.append((ct, k, rank[k]))
    # first emission time at which each key reached each count
    reached: dict = {}
    for t, rows in emissions:
        for ws, topic, n in rows:
            reached.setdefault((ws, topic), []).append((n, t))
    lags, incl = [], []
    for ct, k, r in need:
        hit = next((t for n, t in reached.get(k, []) if n >= r and t >= ct), None)
        if hit is not None:
            lags.append(hit - ct)
            incl.append(hit)
    backlog_max = 0
    if emissions:
        cts = sorted(ct for ct, _k, _r in need)
        incl.sort()
        import bisect

        for t, _rows in emissions:
            backlog_max = max(
                backlog_max, bisect.bisect_right(cts, t) - bisect.bisect_right(incl, t)
            )
    return lags, backlog_max


def _dropped(progress) -> int:
    return sum(
        (p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0) for p in progress
    )


def _streaming_layers(progress) -> dict:
    def p50(key):
        xs = [p["durationMs"][key] for p in progress if key in p.get("durationMs", {})]
        return pct(xs, 50) if xs else 0.0

    ops = [(p.get("stateOperators") or [{}])[0] for p in progress]
    commits = [o["commitTimeMs"] for o in ops if "commitTimeMs" in o]
    last = ops[-1] if ops else {}
    return {
        "streaming.batches": len(progress),
        "streaming.trigger_p50_ms": p50("triggerExecution"),
        "streaming.latestOffset_p50_ms": p50("latestOffset"),
        "streaming.walCommit_p50_ms": p50("walCommit"),
        "streaming.commitOffsets_p50_ms": p50("commitOffsets"),
        "streaming.addBatch_p50_ms": p50("addBatch"),
        "streaming.state_commit_p50_ms": pct(commits, 50) if commits else 0.0,
        "streaming.state_rows": last.get("numRowsTotal", 0),
        "streaming.state_bytes": last.get("memoryUsedBytes", 0),
    }


def _install(tracer) -> None:
    from walrus_spark.log import wal
    from walrus_spark.streaming import stream

    tracer.wrap(
        wal.WalrusLog,
        "ingest",
        "wal.ingest",
    )
    tracer.wrap(
        wal.WalrusLog,
        "multi_append",
        "wal.multi_append",
        attrs_fn=lambda a, k, _out: {"entries": sum(len(v) for v in a[1].values())},
    )
    tracer.wrap(stream, "read_log_stream", "streaming.read_log_stream")
    tracer.wrap(stream, "windowed_counts", "streaming.windowed_counts")


def _wal_layers(tracer) -> dict:
    out = tracer.layer_stats("wal.multi_append", "wal.multi_append")
    ma = tracer.named("wal.multi_append")
    out["wal.multi_append.entries_per_call"] = (
        sum(s.get("entries", 0) for s in ma) / len(ma) if ma else 0.0
    )
    ing = tracer.named("wal.ingest")
    out["wal.ingest.s"] = sum(s["end"] - s["start"] for s in ing)
    out["wal.ingest.rows"] = CHUNK_ROWS * len(ing)
    return out


def check_outputs(inp, counts, logged, dropped, late_appended, appended) -> list:
    from checks import check_counts, check_log_order

    return [
        check_counts(inp.expected_counts(), counts),
        (
            "late_rows_dropped",
            dropped == len(inp.late) and late_appended,
            f"dropped {dropped} of {len(inp.late)} planted, appended={late_appended}",
        ),
        check_log_order(logged, [[e.seq for e in c] for c in inp.chunks], appended),
    ]
