"""The driver-side ledger resolver (``ledger.ledger_state`` /
``ledger.next_epoch``): one pyarrow read answers every snapshot, epoch
and commit-meta question.

Pinned here:

- every writer takes its epoch from one allocator — one past the
  highest ``run_seq`` on ANY ledger row, so a staged or aborted epoch
  is never reused;
- the resolver, ``next_free_epoch`` and ``read_delete_positions`` on a
  store without deletes launch zero Spark jobs, even right after a
  commit;
- an unreadable ledger file is an error, never an empty store;
- the DataSource writer's ledger file lands atomically;
- only ``ledger.py`` reads the ledger files (a source scan).
"""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from choetl_spark.datasource import ChoetlWriter, _TaskResult, register
from choetl_spark.deletes import (
    delete_where,
    next_free_epoch,
    read_delete_positions,
    upsert,
)
from choetl_spark.engine import EncodeConfig
from choetl_spark.eqdeletes import delete_by_key
from choetl_spark.ledger import (
    LedgerReadError,
    _ledger_dir,
    _ledger_table,
    encode_with_resume,
    ledger_state,
    next_epoch,
    read_encoded,
    scan_encoded,
)
from choetl_spark.refs import abort_staged, publish_staged
from choetl_spark.synth import webpages

CFG = EncodeConfig(
    num_partitions=3, chunk_rows=128, chunk_bytes=1 << 20,
    bloom_columns=("url",),
)


def _max_seq(out):
    seqs = _ledger_table(out).column("run_seq").to_pylist()
    return max(seqs)


def _seqs_of(out, **match):
    rows = _ledger_table(out).to_pylist()
    return {
        r["run_seq"]
        for r in rows
        if all(r[k] == v for k, v in match.items())
    }


def _staged_frame(pages, id_base):
    # caller-planned ids above every ingest id: staged partitions never
    # collide with committed ones
    return pages.withColumn(
        "part_id", (F.xxhash64("url") % 3 + 3) % 3 + id_base
    )


def test_epoch_allocation_across_writers(spark, tmp_path):
    register(spark)
    out = str(tmp_path / "store")
    pages = webpages(spark, 300, partitions=2).cache()
    urls = [r["url"] for r in pages.select("url").limit(4).collect()]

    def commits_next_epoch(write, **match):
        before = _max_seq(out) if os.path.isdir(_ledger_dir(out)) else 0
        write()
        assert _seqs_of(out, **match) == {before + 1}, match

    commits_next_epoch(
        lambda: encode_with_resume(spark, pages, out, CFG, run_id="ingest"),
        run_id="ingest",
    )
    commits_next_epoch(
        lambda: delete_where(
            spark, out, equals={"url": urls[0]}, run_id="del"
        ),
        run_id="del",
    )
    commits_next_epoch(
        lambda: delete_by_key(spark, out, "url", [urls[1]], run_id="eqdel"),
        run_id="eqdel",
    )
    fresh = webpages(spark, 40, partitions=1).withColumn(
        "url", F.concat(F.lit("https://up.example/"), F.col("url"))
    )
    commits_next_epoch(
        lambda: upsert(
            spark, out, fresh.unionByName(pages.filter(
                F.col("url") == urls[2]
            )), key="url", cfg=CFG, run_id="ups",
        ),
        run_id="ups",
    )
    staged = webpages(spark, 60, partitions=1).withColumn(
        "url", F.concat(F.lit("https://wap.example/"), F.col("url"))
    )
    commits_next_epoch(
        lambda: encode_with_resume(
            spark, _staged_frame(staged, 1000), out, CFG, run_id="wap1",
            staged=True,
        ),
        run_id="wap1", status="staged",
    )
    commits_next_epoch(
        lambda: publish_staged(spark, out, "wap1"),
        run_id="wap1", status="done",
    )
    commits_next_epoch(
        lambda: encode_with_resume(
            spark, _staged_frame(staged, 2000), out, CFG, run_id="wap2",
            staged=True,
        ),
        run_id="wap2", status="staged",
    )
    # an abort marks the staged epoch dead without taking a new one ...
    staged_seq = _max_seq(out)
    assert abort_staged(spark, out, "wap2")["partitions_aborted"] > 0
    assert _seqs_of(out, run_id="wap2", status="aborted") == {staged_seq}
    assert _max_seq(out) == staged_seq
    # ... and the next writer still clears it: the aborted epoch is
    # never handed out again
    extra = webpages(spark, 30, partitions=1).withColumn(
        "url", F.concat(F.lit("https://ds.example/"), F.col("url"))
    )
    before = _max_seq(out)
    extra.select(*pages.columns).write.format("choetl").mode(
        "append"
    ).save(out)
    ds_seqs = {
        r["run_seq"]
        for r in _ledger_table(out).to_pylist()
        if (r["run_id"] or "").startswith("ds-write-")
    }
    assert ds_seqs == {before + 1}
    assert next_epoch(out) == before + 2

    state = ledger_state(out)
    for n in (3, 8):
        e = next_free_epoch(spark, out, n)
        assert e > state["max_seq"]
        assert e * n > state["max_part"]
    # the store still reads: every writer's rows, minus the deletes
    got = {r["url"] for r in scan_encoded(spark, out, ["url"]).collect()}
    assert urls[0] not in got and urls[1] not in got
    assert urls[2] in got  # upserted back
    # the published stage reads once; the aborted one never
    assert len({u for u in got if u.startswith("https://wap.example/")}) == 60
    pages.unpersist()


def test_metadata_questions_launch_no_spark_jobs(spark, tmp_path):
    out = str(tmp_path / "store")
    pages = webpages(spark, 200, partitions=2)
    encode_with_resume(spark, pages, out, CFG, run_id="ingest")
    sc = spark.sparkContext
    group = f"resolver-{os.getpid()}-{id(out)}"
    sc.setJobGroup(group, "ledger resolver job count")
    try:
        # right after the commit: nothing is cached for this snapshot
        state = ledger_state(out)
        assert state["exists"] and state["max_seq"] == 1
        assert next_free_epoch(spark, out, CFG.num_partitions) >= 2
        assert read_delete_positions(spark, out) is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_unreadable_ledger_file_raises(spark, tmp_path):
    out = str(tmp_path / "store")
    pages = webpages(spark, 120, partitions=2)
    encode_with_resume(spark, pages, out, CFG, run_id="ingest")
    assert read_encoded(spark, out).count() > 0
    with open(os.path.join(_ledger_dir(out), "x.parquet"), "wb") as fh:
        fh.write(b"PAR1 torn bytes")
    with pytest.raises(LedgerReadError):
        read_encoded(spark, out)
    with pytest.raises(LedgerReadError):
        encode_with_resume(spark, pages, out, CFG, run_id="resume")
    # a missing ledger is still "no store yet", not an error
    assert ledger_state(str(tmp_path / "nowhere"))["exists"] is False


def test_datasource_ledger_commit_is_atomic(spark, tmp_path, monkeypatch):
    register(spark)
    out = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, f"https://a.example/{i}") for i in range(50)],
        "id long, url string",
    )
    df.write.format("choetl").mode("append").save(out)
    ledger_dir = _ledger_dir(out)
    before = sorted(os.listdir(ledger_dir))
    n_before = read_encoded(spark, out).count()

    writer = ChoetlWriter({"path": out}, df.schema, overwrite=False)
    msg = _TaskResult(
        chunk_file="", attempt_id="torn-attempt",
        parts=[(10_000, 1, 1, 1, 2, "[]", 0)], dtypes={},
    )

    def torn_write(table, where, **kwargs):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        writer.commit([msg])
    monkeypatch.undo()
    assert sorted(os.listdir(ledger_dir)) == before
    assert read_encoded(spark, out).count() == n_before
    assert spark.read.format("choetl").load(out).count() == 50


# -- source scan: ledger.py is the only reader of ledger files ----------

_PKG = pathlib.Path(__file__).resolve().parent.parent / "choetl_spark"
_RESOLVER_NAMES = ("_ledger_state", "_ledger_table", "_read_parquet_dir")


def _ledger_dir_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``_ledger_dir(...)`` calls that are not a commit
    append (``<frame>.write....parquet(_ledger_dir(d))``) or a
    directory creation (``os.makedirs``)."""
    parents = {
        child: node
        for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }
    bad = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_ledger_dir"
        ):
            continue
        user = parents.get(node)
        ok = False
        if isinstance(user, ast.Call) and isinstance(user.func, ast.Attribute):
            chain = ast.unparse(user.func)
            ok = (user.func.attr == "parquet" and ".write" in chain) or (
                chain == "os.makedirs"
            )
        if not ok:
            bad.append(node.lineno)
    return bad


def test_only_ledger_module_reads_the_ledger():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        rel = path.relative_to(_PKG.parent)
        if re.search(r"F\.max\(\s*[\"']run_seq[\"']", src):
            offenders.append(f"{rel}: F.max('run_seq') epoch aggregate")
        if path.name == "ledger.py":
            continue
        tree = ast.parse(src)
        for line in _ledger_dir_reads(tree):
            offenders.append(f"{rel}:{line}: reads _ledger_dir(...)")
        if re.search(r"[\"']_ledger[\"']", src):
            offenders.append(f"{rel}: spells the ledger directory name")
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (
                node.name in _RESOLVER_NAMES
            ):
                offenders.append(f"{rel}:{node.lineno}: defines {node.name}")
    assert offenders == []


def test_source_scan_flags_a_read():
    tree = ast.parse(
        "spark.read.parquet(_ledger_dir(d))\n"
        "df.write.mode('append').parquet(_ledger_dir(d))\n"
        "os.makedirs(_ledger_dir(d), exist_ok=True)\n"
        "os.listdir(_ledger_dir(d))\n"
    )
    assert _ledger_dir_reads(tree) == [1, 4]
