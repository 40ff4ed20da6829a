"""In-memory spans around the public calls into the program's modules,
and per-job-group Spark engine metrics read from the status store.

The tracer patches attributes of the program's modules and classes for
the duration of a traced pass and restores them afterwards; it never
edits the program. Spans are kept in memory and written as JSON lines
when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

from common import pct


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # spans ---------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, attrs_fn=None, **kwargs):
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        st.append(sid)
        out = None
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            span = {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1}
            if attrs_fn is not None:
                try:
                    span.update(attrs_fn(args, kwargs, out))
                except Exception as e:  # noqa: BLE001 — attrs are best-effort
                    span["attrs_error"] = repr(e)
            with self._lock:
                self.spans.append(span)
        return out

    # patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``unwrap_all``. ``attrs_fn(args, kwargs, result)`` adds span
        fields; ``result`` is None when the call raised."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, attrs_fn=attrs_fn, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # summaries -----------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["name"] == name]

    def layer_stats(self, name: str, prefix: str) -> dict:
        """``<prefix>.calls``, ``.p50_ms`` and ``.busy_s`` of one span name."""
        sp = self.named(name)
        durs = [s["end"] - s["start"] for s in sp]
        return {
            f"{prefix}.calls": len(sp),
            f"{prefix}.p50_ms": pct(durs, 50) * 1000 if durs else 0.0,
            f"{prefix}.busy_s": sum(durs),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


SPARK_KEYS = (
    "jobs",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "spill_bytes",
)


def zero_spark() -> dict:
    return {k: 0 for k in SPARK_KEYS}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def spark_jobs_record(spark, job_ids) -> dict:
    """Sum the status-store metrics of the given jobs' stages. Read a
    group's record soon after it runs: the store keeps 1000 jobs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    rec = zero_spark()
    stages = set()
    for jid in job_ids:
        try:
            job = store.job(int(jid))
        except Exception:  # noqa: BLE001 — evicted from the store
            continue
        rec["jobs"] += 1
        stages.update(_seq(job.stageIds()))
    for sid in stages:
        try:
            sd = store.lastStageAttempt(int(sid))
        except Exception:  # noqa: BLE001 — never submitted (skipped)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        rec["tasks"] += sd.numTasks()
        rec["tasks_failed"] += sd.numFailedTasks()
        rec["executor_run_s"] += sd.executorRunTime() / 1000.0
        rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        rec["gc_s"] += sd.jvmGcTime() / 1000.0
        rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
        rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        rec["shuffle_write_records"] += sd.shuffleWriteRecords()
        rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return rec


def spark_group_record(spark, group: str) -> dict:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return spark_jobs_record(spark, ids)


def all_job_ids(spark) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    return [j.jobId() for j in _seq(store.jobsList(None))]


def add_records(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}


def prefixed(rec: dict, prefix: str, keys=SPARK_KEYS) -> dict:
    return {f"{prefix}.{k}": rec.get(k, 0) for k in keys}
