"""The workloads: one closed-loop client driving the engine's public
entry points, every output checked against the seeded source.

``lookup_upsert``
    point lookups, with an upsert of 50 re-crawled pages after every 5,
    on a byte-identical copy of the base store; then one scan of each
    kind over the untouched base store.
``scan``
    at least ``SCAN_ROUNDS`` rounds of a full scan through the engine,
    the same scan through the DataSource, and a ~5% ``warc_ts`` window,
    over a ``balanced`` store; then one upsert and a lookup of an
    upserted page, after a warm-up lookup of another.

Set-up bulk-ingests the seeded Parquet input into the base store, which
also loads the encode path into the JVM and the Python workers. Both
workloads then measure one more ingest of the same input into a fresh
store. Every workload reports every end-to-end metric, so the
operations outside a workload's focus run a fixed few times against the
store it already has: that keeps each run short while no metric is
missing.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

from perfbench.inputs import (
    KIND_SCHEDULE, TS_MOD, Inputs, content_checksum, lookup_ok)

# raw Arrow MB of each workload's input (~10 kB per page)
BASE_MB = 20
SCAN_MB = 30
UPSERT_ROWS = 50
# the least number of measured scan rounds in the scan workload (a
# round takes ~4 s on 2 cores, so the run's time budget alone would
# give one sample; the first round is also the decode paths' warm-up,
# and the median of four leaves it out)
SCAN_ROUNDS = 4
LOOKUPS_PER_UPSERT = 5
LOOKUP_COLUMNS = ["url", "html", "text"]
SCAN_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def encode_config(profile: str):
    """``jobs/encode_job.py``'s defaults (salted shuffle, 64k-row /
    8 MiB chunks, host partitioning) with its partition count sized as
    its docstring advises for 2 cores, plus a url Bloom filter."""
    from choetl_spark.engine import EncodeConfig

    return EncodeConfig(
        num_partitions=8, shuffle="salted", optimize_for=profile,
        bloom_columns=("url",),
    )


def log(t0: float, what: str) -> None:
    """Phase timings go to stderr; stdout carries only the result."""
    print(f"[perfbench {time.perf_counter() - t0:7.2f}s] {what}",
          file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def ledger_table(store: str):
    return pq.read_table(os.path.join(store, "_ledger"))


def delete_files(store: str) -> int:
    d = os.path.join(store, "_deletes")
    if not os.path.isdir(d):
        return 0
    return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))


class Client:
    """One closed-loop client: each operation starts when the previous
    one has returned and been checked."""

    def __init__(self, spark, tracer, work: str, inputs: Inputs,
                 profile: str, t0: float):
        from pyspark.sql import functions as F

        self.t0 = t0
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.inputs = inputs
        self.cfg = encode_config(profile)
        self.F = F
        self.input_path = os.path.join(work, "input.parquet")
        self.expected = content_checksum(inputs.table)
        self.lat: dict[str, list[float]] = {
            k: [] for k in ("ingest", "lookup", "upsert", "scan", "ds_scan",
                            "range_scan")
        }
        self.lookup_kinds: list[str] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.bloom_ratios: list[float] = []
        self.upserts = 0
        self.record = True

    # -- bookkeeping --------------------------------------------------
    @contextlib.contextmanager
    def untimed(self):
        """Operations run and are checked, but neither timed nor traced
        (warm-up)."""
        traced = self.tracer.enabled
        self.record = self.tracer.enabled = False
        try:
            yield
        finally:
            self.record, self.tracer.enabled = True, traced

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def _run(self, kind: str, fn):
        """Time ``fn`` under an ``op.<kind>`` span; an exception is a
        failed operation, not a crashed run."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.attempted += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None
        took = time.perf_counter() - t0
        if self.record:
            self.lat[kind].append(took)
        log(self.t0, f"{kind} {took:.3f}s" + ("" if self.record else " (warm-up)"))
        return out

    # -- operations ---------------------------------------------------
    def ingest(self, dst: str) -> None:
        """Encode the whole Parquet input into a fresh store at ``dst``."""
        from choetl_spark import ledger

        def op():
            df = self.spark.read.parquet(self.input_path)
            with self.tracer.span("ledger.encode_with_resume"):
                return ledger.encode_with_resume(
                    self.spark, df, dst, self.cfg, native_write=True)

        if self._run("ingest", op) is None:
            return
        want = self.inputs.rows
        lt = ledger_table(dst).to_pylist()
        got = sum(r["n_rows"] for r in lt if r["status"] == "done")
        self._check(got == want, f"ingest committed {got} rows of {want}")

    def lookup(self, store: str, i: int) -> None:
        from choetl_spark import ledger, lookup

        kind, url = self.inputs.lookup_key(i)

        def op():
            with self.tracer.span("ledger.read_manifest"):
                mf = ledger.read_manifest(store)
            cols = [c for c in LOOKUP_COLUMNS if c in mf]
            with self.tracer.span("lookup.point_lookup"):
                return lookup.point_lookup(
                    self.spark, store, "url", url, cols).collect()

        rows = self._run("lookup", op)
        if rows is None:
            return
        if self.record:
            self.lookup_kinds.append(kind)
        version = None if kind == "A" else self.inputs.version.get(url, 0)
        self._check(
            lookup_ok([r.asDict() for r in rows], url, version),
            f"lookup {url} (version {version}) returned {len(rows)} rows "
            "or wrong content",
        )
        if self.tracer.enabled:
            self.bloom_ratios.append(bloom_hit_ratio(store, url))

    def upsert(self, store: str) -> None:
        from choetl_spark import deletes

        batch = self.inputs.next_upsert()
        self.upserts += 1
        path = os.path.join(self.work, f"upsert-{self.upserts}.parquet")
        pq.write_table(batch, path)

        def op():
            df = self.spark.read.parquet(path)
            with self.tracer.span("deletes.upsert"):
                return deletes.upsert(self.spark, store, df, "url", self.cfg)

        res = self._run("upsert", op)
        if res is None:
            return
        self.inputs.commit_upsert(batch)
        self._check(res["rows_deleted"] == batch.num_rows,
                    f"upsert replaced {res['rows_deleted']} of {batch.num_rows}")

    def _checksum(self, df) -> tuple:
        F = self.F
        r = df.agg(
            F.count("*"),
            F.sum(F.crc32(F.col("url"))),
            F.sum(F.unix_micros(F.col("warc_ts")) % TS_MOD),
            F.sum(F.crc32(F.col("html"))),
            F.sum(F.crc32(F.col("text"))),
            F.sum(F.crc32(F.col("lang"))),
        ).collect()[0]
        return tuple(int(v or 0) for v in r)

    def scan(self, store: str) -> None:
        from choetl_spark import engine, ledger

        def op():
            with self.tracer.span("ledger.read_encoded"):
                enc = ledger.read_encoded(self.spark, store)
            with self.tracer.span("engine.decode_dataframe"):
                return self._checksum(engine.decode_dataframe(enc))

        got = self._run("scan", op)
        if got is not None:
            self._check(got == self.expected, f"engine scan checksum {got}")

    def ds_scan(self, store: str) -> None:
        def op():
            with self.tracer.span("datasource.scan"):
                return self._checksum(
                    self.spark.read.format("choetl").load(store))

        got = self._run("ds_scan", op)
        if got is not None:
            self._check(got == self.expected, f"datasource scan checksum {got}")

    def range_scan(self, store: str) -> None:
        from choetl_spark import ledger

        lo, hi = self.inputs.warc_window()
        want = content_checksum(self.inputs.window_rows(lo, hi))

        def op():
            with self.tracer.span("ledger.scan_encoded"):
                return self._checksum(ledger.scan_encoded(
                    self.spark, store, SCAN_COLUMNS,
                    ranges={"warc_ts": (lo, hi)}))

        got = self._run("range_scan", op)
        if got is not None:
            self._check(got == want, f"range scan [{lo}, {hi}] checksum {got}")

    # -- passes -------------------------------------------------------
    def scans(self, store: str) -> None:
        self.scan(store)
        self.ds_scan(store)
        self.range_scan(store)

    def serve_side_pass(self, store: str) -> None:
        """One upsert, then two lookups of upserted urls: the first, not
        timed, loads the lookup path over a store with delete files."""
        self.upsert(store)
        with self.untimed():
            self.lookup(store, KIND_SCHEDULE.index("U"))
        self.lookup(store, KIND_SCHEDULE.index("U"))


def bloom_hit_ratio(store: str, url: str) -> float:
    """Share of the store's url chunks whose Bloom filter admits
    ``url`` (read from the chunk stats on the driver)."""
    import json

    from choetl_spark.bloom import bloom_maybe_contains

    hit = total = 0
    chunks = os.path.join(store, "chunks")
    for f in os.listdir(chunks):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        t = pq.read_table(os.path.join(chunks, f), columns=["column", "stats"])
        for col, stats in zip(t.column("column").to_pylist(),
                              t.column("stats").to_pylist()):
            if col != "url":
                continue
            total += 1
            hit += bloom_maybe_contains(json.loads(stats).get("bloom"), url)
    return hit / total if total else 0.0


def prepare_inputs(name: str, seed: int, work: str) -> Inputs:
    """The workload's seeded pages, written as its Parquet input. Needs
    no Spark, so it can run while the session starts."""
    raw_mb = {"lookup_upsert": BASE_MB, "scan": SCAN_MB}[name]
    inputs = Inputs(seed, raw_mb, UPSERT_ROWS)
    pq.write_table(inputs.table, os.path.join(work, "input.parquet"))
    return inputs


def run_workload(name: str, spark, tracer, work: str, inputs: Inputs,
                 seconds: float, setup_t0: float, trace: bool) -> dict:
    """Set up and run one workload; returns the raw measurements.
    ``tracer`` records nothing during set-up and, with ``trace``,
    everything after it."""
    profile = "balanced" if name == "scan" else "speed"
    c = Client(spark, tracer, work, inputs, profile, setup_t0)
    log(setup_t0, f"input: {inputs.rows} pages, {inputs.raw_bytes / 1e6:.1f} MB")
    # set-up: the first ingest builds the base store and loads the
    # encode path into the JVM and the Python workers; then the JVM's
    # own parquet+zstd writer writes the same input on the same cores
    # (the footprint reference, and the writer control)
    base = os.path.join(work, "base")
    with c.untimed():
        c.ingest(base)
    ref = os.path.join(work, "reference_zstd.parquet")
    t = time.perf_counter()
    spark.read.parquet(c.input_path).write.option(
        "compression", "zstd").parquet(ref)
    out = {"parquet_zstd_s": time.perf_counter() - t,
           "parquet_zstd_bytes": dir_bytes(ref)}
    out["setup_s"] = time.perf_counter() - setup_t0
    log(setup_t0, "setup done")

    tracer.enabled = trace
    c.ingest(os.path.join(work, "ingest"))
    shutil.rmtree(os.path.join(work, "ingest"), ignore_errors=True)
    # the client works on a byte-identical copy of the base store, so
    # nothing it does leaks into the base
    out["store_bytes"] = dir_bytes(base)
    store = os.path.join(work, "store")
    shutil.copytree(base, store)
    if name == "lookup_upsert":
        # the first lookup pays for loading the lookup path
        with c.untimed():
            c.lookup(store, 0)
        t0 = time.perf_counter()
        i = since_upsert = 0
        while not (time.perf_counter() - t0 >= seconds and c.upserts
                   and since_upsert >= 1):
            c.lookup(store, i)
            i += 1
            since_upsert += 1
            if i % LOOKUPS_PER_UPSERT == 0:
                c.upsert(store)
                since_upsert = 0
        # the scans read the untouched base store, once the loop has
        # warmed the JVM and the workers
        c.scans(base)
    else:
        # the first round also pays for loading each decode path
        t0 = time.perf_counter()
        rounds = 0
        while rounds < SCAN_ROUNDS or time.perf_counter() - t0 < seconds:
            c.scans(store)
            rounds += 1
        c.serve_side_pass(store)
    out.update(
        client=c, store=store, raw_bytes=c.inputs.raw_bytes,
        ledger_rows=ledger_table(store).num_rows,
        delete_files=delete_files(store),
    )
    return out
