"""curation_lane: the README's training-data job, parquet in to shard
files on disk, run WARMUP_LANES times untimed, then a fixed number of
timed times.

    corpus_filter -> exact_jaccard_pairs + connected_components
      -> decontaminate -> train_val_split -> write_shard_files

``release_session_caches`` runs before every lane, so memos are paid
the way a user pays them. Each stage's output is persisted and counted
before the next stage starts, so each stage has its own wall time and
its own Spark job group; the stage record is read from the status store
right after the stage, because the store keeps only 1000 jobs.

MinHash-LSH is not in the lane: its hash family is correlated and
misses near-dup pairs a correct family would find (minhash_repro.py
measures it), so the lane uses exact_jaccard_pairs until that is fixed.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from checks import check_lane_survivors, check_shards
from common import median
from tracing import add_records, prefixed, spark_group_record, zero_spark

N_BASE = 1000
# the first lanes warm the JVM and the Python workers: checked, not
# timed (the second lane still ran 10-19 % slower than the third)
WARMUP_LANES = 2
# timed lanes per second of --seconds, at least 2. A fixed count, not a
# deadline: with a deadline, a fast host fitted one more, warmer lane
# and the lane rates split into two clusters (IQR/median 0.35).
LANES_PER_S = 0.2
STAGES = ("filter", "dedup", "cc", "decontam", "split_write")


def _write_inputs(work, inp):
    docs = os.path.join(work.sub("input"), "docs.parquet")
    evals = os.path.join(work.sub("input"), "eval.parquet")
    pq.write_table(
        pa.table({"doc_id": [d for d, _t in inp.docs], "text": [t for _d, t in inp.docs]}), docs
    )
    pq.write_table(
        pa.table({"doc_id": [d for d, _t in inp.eval_docs], "text": [t for _d, t in inp.eval_docs]}),
        evals,
    )
    return docs, evals


def lane(spark, docs_path, eval_path, out_dir, tag, tracer):
    """One lane. Returns (wall s, per-stage records, survivors, release s)."""
    from walrus_spark import session
    from walrus_spark.operators import dedup, pipeline
    import pyspark.sql.functions as F

    sc = spark.sparkContext
    rec = {}
    held = []

    def stage(name, build):
        group = f"walbench:{tag}:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if df is not None:
            df = df.persist()
            held.append(df)
            n = df.count()
        else:
            n = 0
        t2 = time.perf_counter()
        r = spark_group_record(spark, group) if tracer is not None else zero_spark()
        r.update({"s": t2 - t0, "plan_ms": (t1 - t0) * 1000, "rows": n})
        rec[name] = r
        return df

    t0 = time.perf_counter()
    session.release_session_caches(spark)
    release_s = time.perf_counter() - t0
    docs = spark.read.parquet(docs_path)
    evals = spark.read.parquet(eval_path)
    clean = stage("filter", lambda: docs.join(pipeline.corpus_filter(docs).select("doc_id"), "doc_id"))
    pairs = stage(
        "dedup",
        lambda: dedup.exact_jaccard_pairs(clean, sorted_output=False).select("doc_a", "doc_b"),
    )
    comp = stage("cc", lambda: dedup.connected_components(pairs))
    deduped = clean.join(
        comp.where("id != component").select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    )
    ok = stage(
        "decontam",
        lambda: pipeline.decontaminate(deduped, evals, sorted_output=False)
        .where("NOT contaminated")
        .select("doc_id"),
    )

    def split_write():
        train = pipeline.train_val_split(deduped.join(ok, "doc_id")).where("split = 'train'")
        pipeline.write_shard_files(
            train.select("doc_id", "text"), out_dir, n_shards=gen.N_SHARDS, seed=gen.SHARD_SEED
        )

    stage("split_write", split_write)
    survivors = {int(r["doc_id"]) for r in ok.collect()}
    wall = time.perf_counter() - t0
    for df in held:
        df.unpersist()
    sc.setJobGroup(None, None)
    return wall, rec, survivors, release_s


def read_shards(out_dir):
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "shard=*", "*.parquet"))):
        s = int(os.path.basename(os.path.dirname(path)).split("=")[1])
        t = pq.read_table(path, columns=["doc_id", "text"])
        for i, (d, txt) in enumerate(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())):
            rows.append((s, (path, i), int(d), txt))
    return rows


def _install(tracer) -> None:
    from walrus_spark import session
    from walrus_spark.operators import dedup, pipeline

    for name in ("corpus_filter", "decontaminate", "train_val_split", "write_shard_files"):
        tracer.wrap(pipeline, name, f"pipeline.{name}")
    for name in ("exact_jaccard_pairs", "connected_components"):
        tracer.wrap(dedup, name, f"dedup.{name}")
    tracer.wrap(session, "release_session_caches", "session.release_session_caches")


def run(spark, work, seed: int, seconds: float, tracer, rss) -> dict:
    inp = gen.lane_inputs(seed, N_BASE)
    docs_path, eval_path = _write_inputs(work, inp)
    texts = dict(inp.docs)
    if tracer is not None:
        _install(tracer)
    walls, recs, checks, releases = [], [], [], []
    attempted = failed = 0
    for i in range(WARMUP_LANES + max(2, round(seconds * LANES_PER_S))):
        out_dir = os.path.join(work.sub("shards"), f"lane{i}")
        attempted += 1
        wall, rec, survivors, release_s = lane(spark, docs_path, eval_path, out_dir, f"{seed}:{i}", tracer)
        with rss.paused():
            shard_rows = read_shards(out_dir)
        lane_checks = [
            check_lane_survivors(inp.survivors, survivors, inp.near_dup_losers, inp.contaminated),
            check_shards(inp.expected_train(), texts, shard_rows),
        ]
        failed += sum(1 for _n, ok, _d in lane_checks if not ok) > 0
        checks += [(f"lane{i}:{n}", ok, d) for n, ok, d in lane_checks]
        if i >= WARMUP_LANES:
            walls.append(wall)
            recs.append(rec)
            releases.append(release_s)
    if tracer is not None:
        tracer.unwrap_all()
    compute = [sum(r[s]["s"] for s in STAGES[:-1]) for r in recs]
    layer = {}
    total = zero_spark()
    for r in recs:
        for st in STAGES:
            total = add_records(total, r[st])
    for st in STAGES:
        layer[f"lane.{st}.s"] = median([r[st]["s"] for r in recs])
        layer[f"lane.{st}.plan_ms"] = median([r[st]["plan_ms"] for r in recs])
        for k, src in (
            ("jobs", "jobs"),
            ("tasks", "tasks"),
            ("cpu_s", "executor_cpu_s"),
            ("gc_s", "gc_s"),
            ("shuffle_write_bytes", "shuffle_write_bytes"),
            ("shuffle_write_records", "shuffle_write_records"),
            ("spill_bytes", "spill_bytes"),
        ):
            layer[f"lane.{st}.{k}"] = median([r[st][src] for r in recs])
    layer["lane.dedup.pairs"] = recs[-1]["dedup"]["rows"]
    layer["session.release_s"] = median(releases)
    if tracer is not None:
        # per lane, so the figures compare across runs of any length
        layer.update(prefixed({k: v / len(recs) for k, v in total.items()}, "spark"))
    n_train = len(inp.expected_train())
    return {
        "e2e": {
            # train docs on disk per second of lane wall: the lane's
            # end-to-end time, parquet in to shards written
            "write_per_s": n_train / median(walls),
            "read_per_s": len(inp.docs) / median(compute),
            # the exact_jaccard_pairs stage alone: the volume-bound part
            # of the lane (its executors keep more than two cores busy)
            "read_p50_ms": layer["lane.dedup.s"] * 1000,
        },
        "layer": layer,
        "samples": {
            "timed_lanes": len(walls),
            "lane_s": median(walls),
            "compute_s": median(compute),
            "lane_walls_s": walls,
            "docs": len(inp.docs),
            "train_docs": n_train,
        },
        "attempted": attempted,
        "failed": failed,
        "checks": checks,
        "cost": median(walls),
    }
