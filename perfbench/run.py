"""Benchmark of the choetl_spark engine: seeded workloads, checked
outputs, end-to-end metrics, and a traced run for per-layer metrics.

Run from the repository root::

    python3 perfbench/run.py --workload scan --seed 7 --seconds 8 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same workload with spans around every call into
the engine, plus the Spark-free kernel replay and the boundary and
control measurements, and reports the per-layer metrics. Both print, as
the last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Spans of a traced run are written to ``.perfbench_out/`` at exit. A
run's scratch data lives under ``.perfbench_work/`` and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lookup_upsert", "scan")
SPAN_METRICS = {
    "ledger.encode_with_resume": ("s", "jobs", "stages"),
    "ledger.read_encoded": ("s", "jobs"),
    "ledger.read_manifest": ("s",),
    "ledger.scan_encoded": ("s", "jobs", "stages"),
    "lookup.point_lookup": ("s", "jobs", "stages"),
    "deletes.upsert": ("s", "jobs", "stages"),
    "engine.decode_dataframe": ("s", "jobs", "stages"),
    "datasource.scan": ("s", "jobs", "stages"),
}
_UNITS = {"s": "s", "jobs": "count", "stages": "count"}


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples beyond it,
    and that percentile; the maximum (percentile 100) when there are
    too few samples for one."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100
    pct = int(100 * (n - 10) / n)
    return xs[min((pct * n) // 100, n - 11)], pct


def end_to_end(out: dict, peak_rss: int) -> dict[str, tuple[float, str]]:
    """The metrics a user of the engine sees, from the untraced run. A
    metric whose operation never succeeded is left out (the run then
    has failures, so it is not correct)."""
    c = out["client"]
    mb = out["raw_bytes"] / 1e6
    lat = {k: statistics.median(v) for k, v in c.lat.items() if v}
    m = {
        "setup_s": (out["setup_s"], "s"),
        "stored_per_raw": (out["store_bytes"] / out["raw_bytes"], "ratio"),
        "stored_vs_parquet_zstd": (
            out["store_bytes"] / out["parquet_zstd_bytes"], "ratio"),
        "ops_ok_frac": (1 - len(c.failures) / c.attempted, "ratio"),
        "peak_rss_MB": (peak_rss / 1e6, "MB"),
    }
    for name, kind in (("ingest_MBps", "ingest"), ("scan_MBps", "scan"),
                       ("ds_scan_MBps", "ds_scan")):
        if kind in lat:
            m[name] = (mb / lat[kind], "MB/s")
    for name, kind in (("lookup_p50_s", "lookup"), ("upsert_p50_s", "upsert"),
                       ("range_scan_p50_s", "range_scan")):
        if kind in lat:
            m[name] = (lat[kind], "s")
    if c.lat["lookup"]:
        value, pct = tail(c.lat["lookup"])
        m["lookup_tail_s"] = (value, "s")
        print(f"lookup_tail_s: p{pct} of n={len(c.lat['lookup'])} lookups "
              f"(kinds {''.join(c.lookup_kinds)})", flush=True)
    return m


def per_layer(spark, tracer, out: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: span self times and Spark job/stage counts of
    the traced run, then the kernel replay, boundary and controls."""
    from perfbench import layers
    from perfbench.workloads import encode_config

    c = out["client"]
    summary = tracer.summary()
    m: dict[str, tuple[float, str]] = {}
    for name, fields in SPAN_METRICS.items():
        for f in fields:
            if name in summary:
                m[f"{name}.{f}"] = (summary[name][f], _UNITS[f])
    m["ledger.rows"] = (float(out["ledger_rows"]), "count")
    m["deletes.files"] = (float(out["delete_files"]), "count")
    if c.bloom_ratios:
        m["bloom.chunks_hit_per_total"] = (
            statistics.median(c.bloom_ratios), "ratio")
    ops = [s for s in tracer.spans if s["parent"] is None]
    m["bench.op_self_s"] = (statistics.median(
        tracer.self_times()[s["id"]] for s in ops), "s")
    m["trace.overhead_frac"] = (
        tracer.overhead_ns / 1e9 / tracer.traced_seconds(), "ratio")
    # layers measured outside the spans
    for profile in ("speed", "balanced"):
        for k, v in layers.kernel_replay(
                c.inputs.table, encode_config(profile)).items():
            unit = "s/GB" if "s_per_GB" in k else (
                "count" if ".chunks." in k else "ratio")
            m[k] = (v, unit)
    gb = out["raw_bytes"] / 1e9
    m["transfer.arrow_in_s_per_GB"] = (
        layers.arrow_transfer_s(spark, c.input_path) / gb, "s/GB")
    m["control.parquet_zstd_MBps"] = (
        out["raw_bytes"] / 1e6 / out["parquet_zstd_s"], "MB/s")
    m["control.sentinel_s"] = (statistics.median(
        layers.sentinel_s(spark) for _ in range(3)), "s")
    return m


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # fail before starting anything when the engine is not importable
    sys.path.insert(0, ROOT)
    import choetl_spark.engine  # noqa: F401

    from perfbench.session import RssSampler, start_spark, stop_spark
    from perfbench.tracer import Tracer
    from perfbench.workloads import log, prepare_inputs, run_workload

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = out = None
    metrics: dict[str, tuple[float, str]] = {}
    crash: list[str] = []
    try:
        with RssSampler() as rss:
            # the seeded input needs no Spark: make it while the JVM starts
            with ThreadPoolExecutor(1) as pool:
                pending = pool.submit(prepare_inputs, args.workload, args.seed,
                                      work)
                spark = start_spark(work)
                inputs = pending.result()
            log(t_start, "spark started")
            from choetl_spark import datasource

            datasource.register(spark)
            tracer = Tracer(spark.sparkContext, enabled=False)
            out = run_workload(args.workload, spark, tracer, work, inputs,
                               args.seconds, t_start, bool(args.trace))
            log(t_start, "workload done")
            if args.trace:
                metrics = per_layer(spark, tracer, out)
        if not args.trace:
            metrics = end_to_end(out, rss.peak)
        else:
            odir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(odir, exist_ok=True)
            tracer.write(os.path.join(
                odir, f"spans-{args.workload}-{args.seed}.jsonl"))
    except Exception as e:  # noqa: BLE001 - reported as a failed run below
        traceback.print_exc()
        crash.append(f"run: {type(e).__name__}: {e}"[:300])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    c = out["client"] if out else None
    failures = (c.failures if c else []) + crash
    for f in failures:
        print(f"FAILED {f}", flush=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": (c.attempted if c else 0) + len(crash),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
