"""Per-layer measurements that need no engine-internal timers.

``kernel_replay``
    a Spark-free run of the engine's encode block over the workload's
    own pages, chunked as ``EncodeConfig`` chunks them, with each layer
    it calls (stats, codec selection incl. its sample trial, the
    lightweight codec, the zstd pass, the Bloom build) timed on its own
    by wrapping the module functions it calls, then a timed decode of
    every chunk it emits.
``arrow_transfer``
    a no-op ``mapInArrow`` over the input: the JVM->Python Arrow
    boundary every encode crosses.
``parquet_zstd_write`` / ``sentinel``
    controls that do not touch the engine: the JVM parquet+zstd writer
    on the same input and cores, and a pure-JVM aggregate. They move
    with the machine, not with the engine's code.
"""

from __future__ import annotations

import json
import time

import pyarrow as pa

# the codecs each profile encodes web pages with (the speed profile
# never tries fsst/worddict; the balanced one beats plain on every chunk)
CODECS = {"speed": ("plain", "dict", "delta"),
          "balanced": ("dict", "delta", "fsst", "worddict")}


class _LayerClock:
    """Self time per layer of functions patched in for its lifetime.

    A timed call inside another timed call is taken out of the outer
    call's time, so ``codec`` is ``encode_array`` minus its zstd pass.
    Calls made inside the codec selector (its sample trial encodes and
    zstd-compresses samples) count as selection."""

    def __init__(self):
        self.ns: dict[str, int] = {}
        self._stack: list[str] = []
        self._saved: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, layer: str) -> None:
        fn = getattr(owner, attr)
        self.ns.setdefault(layer, 0)
        stack, ns, clock = self._stack, self.ns, time.perf_counter_ns

        def timed(*a, **k):
            if stack and stack[-1] == "selector":
                return fn(*a, **k)
            stack.append(layer)
            t = clock()
            try:
                return fn(*a, **k)
            finally:
                dt = clock() - t
                stack.pop()
                ns[layer] += dt
                if stack:
                    ns[stack[-1]] -= dt

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)


def kernel_replay(table: pa.Table, cfg) -> dict[str, float]:
    """Encode then decode ``table`` with the engine's own encode block
    (``engine._encode_block``), one logical partition at a time as one
    encode task sees it, timing each layer it calls. Raises if a chunk
    does not decode to its input."""
    from choetl_spark import bloom, engine
    from choetl_spark.codecs import decode_array
    from choetl_spark.codecs import zstd as zstd_pass

    chunks = dict.fromkeys(CODECS[cfg.optimize_for], 0)
    decode_ns = pre = enc = 0
    per_part = -(-table.num_rows // cfg.num_partitions)
    with _LayerClock() as lc:
        lc.patch(engine, "compute_stats", "stats")
        lc.patch(engine, "choose_codec", "selector")
        lc.patch(engine, "encode_array", "codec")
        lc.patch(zstd_pass, "wrap", "zstd")
        lc.patch(zstd_pass, "wrap_parts", "zstd")
        lc.patch(bloom, "bloom_build", "bloom")
        for part_id, p0 in enumerate(range(0, table.num_rows, per_part)):
            part = table.slice(p0, per_part)
            zeros = dict.fromkeys(part.column_names, 0)
            out = engine._encode_block(part_id, part, dict(zeros),
                                       dict(zeros), cfg)
            for row in out.to_pylist():
                codec = row["codec"].removesuffix("+zstd")
                if codec in chunks:
                    chunks[codec] += 1
                pre += row["pre_zstd_bytes"]
                enc += row["encoded_bytes"]
                src = part.column(row["column"]).slice(
                    row["row_start"], row["n_rows"]).combine_chunks()
                t = time.perf_counter_ns()
                back = decode_array(row["payload"], json.loads(row["meta"]))
                decode_ns += time.perf_counter_ns() - t
                if not back.equals(src):
                    raise AssertionError(
                        f"{row['column']} chunk at {p0 + row['row_start']} "
                        f"({row['codec']}) does not round-trip")
    gb = table.nbytes / 1e9
    p = cfg.optimize_for
    out = {
        f"stats.s_per_GB.{p}": lc.ns["stats"] / 1e9 / gb,
        f"selector.s_per_GB.{p}": lc.ns["selector"] / 1e9 / gb,
        f"codecs.encode_s_per_GB.{p}": lc.ns["codec"] / 1e9 / gb,
        f"codecs.zstd_s_per_GB.{p}": lc.ns["zstd"] / 1e9 / gb,
        f"bloom.build_s_per_GB.{p}": lc.ns["bloom"] / 1e9 / gb,
        f"codecs.decode_s_per_GB.{p}": decode_ns / 1e9 / gb,
        f"codecs.pre_zstd_per_raw.{p}": pre / table.nbytes,
        f"codecs.encoded_per_raw.{p}": enc / table.nbytes,
    }
    out.update({f"codecs.chunks.{c}.{p}": float(n) for c, n in chunks.items()})
    return out


def _drain(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]})


def arrow_transfer_s(spark, input_path: str) -> float:
    """Seconds to stream the whole input through a no-op
    ``mapInArrow`` (scan + JVM->Python transfer, nothing computed)."""
    t = time.perf_counter()
    spark.read.parquet(input_path).mapInArrow(_drain, "n long").collect()
    return time.perf_counter() - t


def sentinel_s(spark, rows: int = 20_000_000) -> float:
    """A lineitem-shaped group-by aggregate that never leaves the JVM."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (
        spark.range(0, rows, numPartitions=2)
        .select((F.col("id") % 97).alias("k"),
                (F.col("id") * 7 % 1000).alias("qty"),
                (F.col("id") % 13 / 100).alias("disc"))
        .groupBy("k")
        .agg(F.sum("qty"), F.sum(F.col("qty") * (1 - F.col("disc"))),
             F.count("*"))
        .collect()
    )
    return time.perf_counter() - t
