"""Tests of the benchmark itself: seeded inputs, the output checkers,
and the repeatability of the per-operation Spark job counts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.inputs import (  # noqa: E402
    Inputs, content_checksum, expected_row, lookup_ok, pages, table_digest,
    url_id)


def _keys(seed: int) -> list[str]:
    inp = Inputs(seed, 3)
    keys = [inp.lookup_key(i)[1] for i in range(5)]
    inp.commit_upsert(inp.next_upsert())
    keys += [inp.lookup_key(i)[1] for i in range(5, 10)]
    keys.append(str(inp.warc_window()))
    return keys


def test_same_seed_same_inputs():
    a, b = Inputs(5, 3), Inputs(5, 3)
    assert table_digest(a.table) == table_digest(b.table)
    assert _keys(5) == _keys(5)
    assert a.next_upsert().equals(b.next_upsert())


def test_input_size_is_fixed_in_bytes():
    # seeds differ in rows, not bytes: at most one (heavy-tailed) page over
    for seed in (1, 2, 3):
        inp = Inputs(seed, 2)
        assert 2e6 <= inp.raw_bytes < 2e6 + 1e6
        assert inp.table.slice(0, inp.rows - 1).nbytes < 2e6


def test_every_seed_maps_to_disjoint_valid_ids():
    from perfbench.inputs import _ID_STRIDE, id_base

    bases = sorted({id_base(seed) for seed in range(997)})
    assert len(bases) == 997 and bases[0] > 0
    inp = Inputs(996, 2)
    assert inp.rows < _ID_STRIDE // 4  # room for absent keys past the table
    ts = inp.table.column("warc_ts").to_pylist()
    assert ts[-1].year < 9999  # a Spark TIMESTAMP


def test_other_seed_other_inputs():
    assert table_digest(Inputs(5, 3).table) != table_digest(
        Inputs(6, 3).table)
    assert set(_keys(5)).isdisjoint(_keys(6))


def test_key_mix_follows_schedule():
    inp = Inputs(9, 3)
    before = [inp.lookup_key(i)[0] for i in range(10)]
    assert "U" not in before  # nothing upserted yet: those become hits
    inp.commit_upsert(inp.next_upsert())
    kinds = [inp.lookup_key(i)[0] for i in range(10)]
    assert kinds.count("E") == 7 and kinds.count("U") == 2
    assert kinds.count("A") == 1
    for i in range(20):
        kind, url = inp.lookup_key(i)
        present = inp.base <= url_id(url) < inp.base + inp.rows
        assert present == (kind != "A")
        if kind == "U":
            assert url in inp.version


def test_recrawl_keeps_url_changes_content():
    ids = np.arange(7, 10)
    v0, v2 = pages(ids), pages(ids, 2)
    assert v0.column("url").equals(v2.column("url"))
    for col in ("warc_ts", "html", "text"):
        assert all(a != b for a, b in zip(v0.column(col).to_pylist(),
                                          v2.column(col).to_pylist()))


def test_lookup_checker_rejects_tampered_rows():
    inp = Inputs(3, 0.5)
    url = inp.urls[7]
    row = {k: v for k, v in expected_row(url, 0).items()
           if k in ("url", "html", "text")}
    assert lookup_ok([row], url, 0)
    assert not lookup_ok([row], url, 1)  # stale: an upsert was missed
    assert not lookup_ok([row, row], url, 0)  # duplicate after upsert
    assert not lookup_ok([], url, 0)
    assert not lookup_ok([row], url, None)  # absent key returned a row
    assert lookup_ok([], url, None)
    for col, bad in (("html", row["html"][:-1] + b"!"),
                     ("text", row["text"] + " "),
                     ("url", url + "x")):
        assert not lookup_ok([{**row, col: bad}], url, 0)


def test_scan_checksum_rejects_tampered_row():
    t = Inputs(3, 0.5).table
    good = content_checksum(t)
    text = t.column("text").to_pylist()
    text[10] = text[10].replace(" ", "  ", 1)
    bad = t.set_column(3, "text", pa.array(text, pa.string()))
    assert content_checksum(bad) != good
    assert content_checksum(t.slice(1)) != good


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Two small seeded stores, each built and served under the tracer."""
    from perfbench.session import start_spark, stop_spark
    from perfbench.tracer import Tracer
    from perfbench.workloads import Client

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = start_spark(work)
    runs = []
    try:
        for k in range(2):
            wdir = os.path.join(work, f"run{k}")
            os.makedirs(wdir)
            inp = Inputs(4, 3, upsert_rows=10)
            import pyarrow.parquet as pq

            pq.write_table(inp.table, os.path.join(wdir, "input.parquet"))
            tracer = Tracer(spark.sparkContext, enabled=True)
            c = Client(spark, tracer, wdir, inp, "speed", 0.0)
            store = os.path.join(wdir, "store")
            c.ingest(store)
            c.lookup(store, 0)
            c.upsert(store)
            c.lookup(store, 5)
            runs.append((c, tracer.summary()))
            shutil.rmtree(store)
    finally:
        stop_spark(spark)
    return runs


def test_traced_ops_are_correct(traced):
    for c, _ in traced:
        assert c.failures == []
        assert c.attempted == 4


def test_same_seed_same_job_counts(traced):
    (_, a), (_, b) = traced
    for name in ("ledger.encode_with_resume", "lookup.point_lookup",
                 "deletes.upsert"):
        assert a[name]["jobs"] > 0
        assert (a[name]["jobs"], a[name]["stages"]) == (
            b[name]["jobs"], b[name]["stages"]), name


def test_kernel_replay_times_the_engine_and_restores_it():
    from choetl_spark import bloom, engine
    from choetl_spark.codecs import zstd
    from perfbench.layers import kernel_replay
    from perfbench.workloads import encode_config

    def patched():
        return (engine.compute_stats, engine.choose_codec,
                engine.encode_array, zstd.wrap, zstd.wrap_parts,
                bloom.bloom_build)

    before = patched()
    m = kernel_replay(Inputs(6, 3).table, encode_config("speed"))
    assert patched() == before
    for key in ("stats.s_per_GB", "codecs.encode_s_per_GB",
                "codecs.zstd_s_per_GB", "bloom.build_s_per_GB",
                "codecs.decode_s_per_GB"):
        assert m[f"{key}.speed"] > 0, key
    assert 0 < m["codecs.encoded_per_raw.speed"] < m[
        "codecs.pre_zstd_per_raw.speed"]
    assert m["codecs.chunks.plain.speed"] > 0


def test_metric_without_samples_is_left_out():
    from types import SimpleNamespace

    from perfbench.run import end_to_end

    lat = {k: [1.0] for k in ("ingest", "lookup", "upsert", "scan",
                              "ds_scan", "range_scan")}
    lat["upsert"] = []
    c = SimpleNamespace(lat=lat, lookup_kinds=["E"], attempted=7,
                        failures=["upsert: boom"])
    out = {"client": c, "raw_bytes": 2e6, "setup_s": 3.0,
           "store_bytes": 1e6, "parquet_zstd_bytes": 1e6}
    m = end_to_end(out, 10**9)
    assert "upsert_p50_s" not in m
    assert m["ingest_MBps"] == (2.0, "MB/s")
    assert m["ops_ok_frac"][0] == 1 - 1 / 7
