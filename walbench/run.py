"""walbench: seeded, checked benchmark of walrus-spark.

    python3 walbench/run.py --workload {log_stream,curation_lane} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Every input is generated from the seed;
the program is driven only through its public API (log_stream's wire
phase through ``python -m walrus_spark.cli serve`` and the wire
protocol).

--trace 0 measures the end-to-end metrics. --trace 1 runs the workload
three times on the same inputs, each pass for a third of --seconds: a
warm-up pass, an untraced pass, and a pass with spans around the public
calls into each module. It reports the per-layer metrics of the traced
pass plus trace.overhead_pct, the traced pass's cost over the untraced
one's.

The last line of stdout is the result:
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
The line before it (prefixed "walbench-record ") carries the regime
stamp, sample counts, tails and every check. Spans of a traced run are
written to .walbench_out/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("log_stream", "curation_lane")


def _units(section: str) -> dict:
    """Metric name -> unit of a BENCHMARK.json section. Every traced run
    reports each per_layer metric, 0 where the workload does not
    exercise the layer. "*_tail_ms" is the highest of p50/p90/p99/p99.9
    with at least ten samples beyond it; the record line names the
    percentile and the sample count."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "walrus_spark", "__init__.py"))


def _workload(name: str):
    if name == "log_stream":
        import log_stream as mod
    else:
        import curation_lane as mod
    return mod


def _setup_cycles(spark, work):
    """setup_s: restart the session through the program's factory, open
    a WalrusLog on a fresh root and run the session cache release; the
    median of SETUP_REPEATS cycles (the JVM launch before them is paid
    once per process and is not repeated)."""
    from common import SETUP_REPEATS, median, restart_session
    from walrus_spark.log.wal import WalrusLog
    from walrus_spark.session import release_session_caches

    times = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = restart_session(spark)
        WalrusLog(spark, work.sub(f"setup{i}")).close()
        release_session_caches(spark)
        times.append(time.perf_counter() - t0)
    return spark, median(times), times


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not _program_present():
        print(f"walbench: walrus_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    from common import RssSampler, WorkDir, finish_stamp, regime_stamp, spark_session, stop_spark
    from tracing import Tracer

    mod = _workload(a.workload)
    stamp = regime_stamp()
    with WorkDir(a.workload) as work, RssSampler() as rss:
        spark = spark_session()
        try:
            spark, setup_s, setup_times = _setup_cycles(spark, work)
            if a.trace:
                # warm-up, untraced and traced passes of a third each; the
                # warm-up pass keeps JVM warm-up (the first streaming query,
                # the first lanes' code generation) out of the comparison
                passes = {}
                for name, tracer in (("warmup", None), ("untraced", None), ("traced", Tracer())):
                    passes[name] = mod.run(spark, work.child(name), a.seed, a.seconds / 3, tracer, rss)
                res = passes["traced"]
                # the wire phase's spans are recorded in the serve child
                res["layer"]["trace.spans"] = len(tracer.spans) + res["layer"].get("trace.spans", 0)
                res["layer"]["trace.overhead_pct"] = 100.0 * (res["cost"] / passes["untraced"]["cost"] - 1)
                tracer.dump(os.path.join(ROOT, ".walbench_out", f"spans-{a.workload}-{a.seed}.jsonl"))
                checks = [c for p in passes.values() for c in p["checks"]]
                attempted = sum(p["attempted"] for p in passes.values())
                failed = sum(p["failed"] for p in passes.values())
            else:
                res = mod.run(spark, work.child("run"), a.seed, a.seconds, None, rss)
                checks, attempted, failed = res["checks"], res["attempted"], res["failed"]
        finally:
            stop_spark(spark)
        peak_mb = rss.peak_mb
        peak_by_process = rss.peak_by_process
    finish_stamp(stamp)
    if a.trace:
        units = _units("per_layer")
        vals = {k: res["layer"].get(k, 0) for k in units}
        vals["peak_rss_mb"] = peak_mb
    else:
        vals = {**res["e2e"], "setup_s": setup_s}
        units = _units("end_to_end")
    # a metric the run could not measure (NaN) fails the run and is
    # reported as 0, so the result line stays valid JSON
    measured = all(float(vals[k]) == float(vals[k]) for k in units)
    metrics = {
        k: {"value": float(vals[k]) if float(vals[k]) == float(vals[k]) else 0.0, "unit": units[k]}
        for k in units
    }
    correct = measured and all(ok for _n, ok, _d in checks)
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "regime": stamp,
        "setup_cycles_s": setup_times,
        "peak_mb_by_process": peak_by_process,
        "samples": res["samples"],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "e2e": {**res["e2e"], "setup_s": setup_s},
        "peak_rss_mb": peak_mb,
        "layer": res["layer"],
    }
    print("walbench-record " + json.dumps(record, default=str), flush=True)
    print(
        json.dumps(
            {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
