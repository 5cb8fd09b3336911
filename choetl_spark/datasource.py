"""``spark.read.format("choetl")`` — the encoded store as a PySpark
Python Data Source (batch read, batch write, streaming read).

PySpark 4's Python Data Source API (`pyspark.sql.datasource`) is the
idiomatic way to surface a custom table format to every Spark entry
point — ``spark.read``, ``df.write``, ``spark.readStream`` and plain
SQL over a registered view — without a line of JVM code. This module
wraps the chunk store that :mod:`choetl_spark.engine` /
:mod:`choetl_spark.ledger` maintain:

    spark.dataSource.register(ChoetlDataSource)
    df  = spark.read.format("choetl").load(out_dir)               # batch
    df2 = spark.read.format("choetl").option("as_of", 3).load(d)  # travel
    src = spark.readStream.format("choetl").load(out_dir)         # epochs
    df.write.format("choetl").mode("append").save(out_dir)        # ingest

Architecture (the same no-JVM-boundary shape as
:mod:`choetl_spark.direct`, in reverse): the DRIVER plans everything
from sidecar metadata with **zero Spark jobs** — the ledger (resolved
by :func:`choetl_spark.ledger.ledger_state`), the manifest JSON, and
the chunk files' parquet FOOTERS (row-group ``part_id`` min/max = the
split-pruning signal ``compact_store`` clusters for). Each task then
opens only its split's row groups with pyarrow, filters chunk rows to
its committed ``(part_id, attempt_id)`` keys, and runs the shared
pure-Python decode kernel (:func:`choetl_spark.engine.
_make_decode_kernel`) — payload bytes cross the JVM boundary exactly
once, as final decoded Arrow batches. The write path is the same shape
turned around: each task runs the shared encode kernel
(:func:`choetl_spark.engine._make_encode_kernel`) and writes its chunk
file directly; the driver ``commit()`` appends the ledger rows in ONE
file, renamed into place — the store's standard crash protocol (chunks
first, ledger second; orphans are invisible) means a failed/speculative
task attempt can never corrupt the table.

Semantics parity is pinned by tests that diff every path against the
primary readers (``scan_encoded`` / ``read_encoded``): commit
resolution on ``(part_id, attempt_id)``, time travel (``as_of`` /
``ref`` options), retired-partition invisibility, schema-evolution
renames + late-added-column nulls + type widening, positional-delete
subtraction, EQUALITY-delete subtraction (value sets are O(deleted
keys) — they load driver-side, ride the splits, and apply task-side
under the data-seq < delete-seq rule; splits whose partitions all
post-date every delete skip the probe), and WAP-staged invisibility
all behave identically.

Scope guards (v1, each raises with a pointer to the primary API):
nested/decimal ("logical") columns — their JSON restore happens
JVM-side in :func:`choetl_spark.engine.decode_dataframe`; equality
deletes whose key column was DROPPED after the delete (a RENAMED key
resolves through the schema log's physical chunk key and keeps
applying, same as the primary reader).

Filter pushdown: ``pushFilters`` keeps simple predicates and evaluates
them task-side with ``pyarrow.compute`` so non-matching rows never
cross to the JVM — but every filter is also RETURNED as unsupported,
so Spark re-applies them all. The task-side mask is therefore a pure
transfer optimization that can only ever be exact-or-skipped (the same
superset discipline as the kernel pushdown in
:mod:`choetl_spark.engine`); float and timestamp predicates are
skipped entirely (NaN ordering / tz conversion differ between Arrow
and Spark semantics).

The streaming reader exposes ledger epochs as micro-batch offsets —
Iceberg's streaming-read contract: an offset is a committed
``run_seq``; ``partitions(start, end)`` are the partitions committed
in ``(start, end]``; delete/replace epochs in range raise unless
``skip_change_commits`` is set (then only pure appends stream, the
``streaming-skip-delete-snapshots`` analog). Offsets are checkpointed
by Spark; replays re-plan the same epochs deterministically because
the ledger is append-only.

The reference's closest concept is the pluggable reader/writer pair
behind one fluent config (reference
src/ChoETL.Parquet/ChoParquetReader.cs:20,
ChoParquetWriter.cs:137-172); here the plug point is Spark's own
format registry.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from choetl_spark.codecs.base import str_to_type
from choetl_spark.engine import (
    EncodeConfig,
    _make_decode_kernel,
    _make_encode_kernel,
    _spark_type_ddl,
)
from choetl_spark.deletes import _deletes_dir
from choetl_spark.eqdeletes import _eq_dir
from choetl_spark.ledger import (
    LEDGER_SCHEMA,
    _chunks_dir,
    _read_parquet_dir,
    _widened_dtype,
    _write_ledger_file,
    ledger_state,
    manifest_data_items,
    next_epoch,
    physical_name,
    read_manifest,
    reserved_physicals,
    write_manifest,
)

def _delete_positions(out_dir: str, state: dict) -> dict[int, "object"]:
    """Committed positional tombstones per part_id (numpy arrays) —
    the broadcast-bitmap shape, loaded driver-side like the primary
    reader's broadcast anti-join side."""
    import numpy as np

    if not state["delete_ids"]:
        return {}
    t = _read_parquet_dir(_deletes_dir(out_dir))
    if t is None:
        return {}
    ids = t.column("delete_id").to_pylist()
    keep = [i for i, d in enumerate(ids) if d in state["delete_ids"]]
    if not keep:
        return {}
    t = t.take(keep)
    pid = t.column("part_id").to_numpy(zero_copy_only=False)
    pos = t.column("row_pos").to_numpy(zero_copy_only=False)
    out: dict[int, object] = {}
    order = np.argsort(pid, kind="stable")
    pid, pos = pid[order], pos[order]
    bounds = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1], True])
    for i in range(len(bounds) - 1):
        s, e = bounds[i], bounds[i + 1]
        out[int(pid[s])] = np.unique(pos[s:e])
    return out


def _eq_value_maps(
    out_dir: str, state: dict, items: list[tuple[str, dict]]
) -> dict[str, dict]:
    """Committed equality-delete value sets, per key column: ``{col:
    {value: newest delete epoch}}`` — loaded driver-side with pyarrow
    (the value tables are O(deleted keys), tiny by the eq-delete
    write contract). A row dies iff its partition's first-done epoch
    is STRICTLY BEFORE the newest delete epoch naming its key value —
    the same data-seq < delete-seq rule the primary reader resolves
    lazily with a Spark decode; here the sets ride the splits and the
    subtraction happens task-side on already-decoded batches."""
    if not state["eq_commits"]:
        return {}
    from choetl_spark.ledger import manifest_as_of, physical_name

    display = {c for c, _ in items}
    manifest = read_manifest(out_dir)

    def to_items_name(col: str, seq: int) -> str:
        # a key renamed after its delete resolves through the schema
        # log's shared physical chunk key into THIS reader's schema
        # (the epoch view under as_of, the current one otherwise); a
        # dropped key still refuses loudly
        entry = (manifest_as_of(manifest, seq) or {}).get(col)
        if col in display:
            # same physical-key check as resolve_eq_key: a live name
            # can front a DIFFERENT physical column after a
            # rename-chain reuses it ("Z->A, delete on A, A->B, C->A")
            cur = dict(items)[col]
            if entry is None or physical_name(entry, col) == physical_name(
                cur, col
            ):
                return col
        if entry is not None:
            phys = physical_name(entry, col)
            for c, m in items:
                if physical_name(m, c) == phys:
                    return c
        raise ValueError(
            f"equality-delete key column {col!r} (recorded at epoch "
            f"{seq}) does not resolve to a column of this store's "
            "schema (dropped after the delete) — read via scan_encoded"
        )

    # grouped by (reader-schema name, recorded name): the value table
    # lives under the recorded name on disk
    by_col: dict[tuple[str, str], list[tuple[str, int]]] = {}
    for did, seq, col in state["eq_commits"]:
        by_col.setdefault(
            (to_items_name(col, int(seq)), col), []
        ).append((did, seq))
    out: dict[str, dict] = {}
    for (cur, col), commits in by_col.items():
        t = _read_parquet_dir(_eq_dir(out_dir, col))
        if t is None:
            raise RuntimeError(
                f"store at {out_dir} has committed equality-delete "
                f"epochs for column {col!r} but no readable value "
                "table — refusing to read (it would resurrect rows)"
            )
        seq_of = dict(commits)
        vmap: dict = {}
        for did, val in zip(
            t.column("delete_id").to_pylist(),
            t.column("value").to_pylist(),
        ):
            s = seq_of.get(did)
            if s is not None and (val not in vmap or vmap[val] < s):
                vmap[val] = s
        if cur in out:
            for val, sq in vmap.items():
                if val not in out[cur] or out[cur][val] < sq:
                    out[cur][val] = sq
        else:
            out[cur] = vmap
    return out


def _as_of_from_options(options: dict) -> int | None:
    """Resolve the options' as_of/ref pair to a ledger epoch (or None
    for the current snapshot)."""
    as_of = options.get("as_of")
    ref = options.get("ref")
    if ref is not None:
        if as_of is not None:
            raise ValueError("pass as_of or ref, not both")
        from choetl_spark.refs import resolve_ref

        as_of = resolve_ref(options["path"], ref)
    return int(as_of) if as_of is not None else None


def _manifest_columns(
    out_dir: str, as_of: int | None = None
) -> list[tuple[str, dict]]:
    from choetl_spark.ledger import manifest_as_of

    manifest = manifest_as_of(read_manifest(out_dir), as_of)
    if manifest is None:
        raise FileNotFoundError(
            f"no choetl store at {out_dir} (missing _manifest.json — "
            "write one with df.write.format('choetl') or "
            "encode_with_resume)"
        )
    items = manifest_data_items(manifest)
    logical = [c for c, m in items if m.get("logical")]
    if logical:
        raise NotImplementedError(
            f"columns {logical} store nested/decimal values as JSON "
            "strings; their restore is JVM-side — read this store with "
            "choetl_spark.ledger.scan_encoded instead"
        )
    return items


def _store_schema_ddl(out_dir: str, as_of: int | None = None) -> str:
    return ", ".join(
        f"`{c}` {_spark_type_ddl(str_to_type(m['dtype']))}"
        for c, m in _manifest_columns(out_dir, as_of)
    )


# ---------------------------------------------------------------------------
# split planning from chunk-file footers
# ---------------------------------------------------------------------------


@dataclass
class StoreSplit(InputPartition):
    """One read task: a contiguous part_id range of the live set, plus
    the (path, row-group) slices whose footer part_id span overlaps it."""

    parts: tuple  # sorted live part_ids in this split
    files: tuple  # ((path, (rg, ...)), ...)
    attempts: dict  # part_id -> frozenset of committed attempt_ids
    tombstones: dict  # part_id -> np.ndarray of deleted row_pos
    eq: dict  # key_col -> {value: newest delete epoch} (tiny)
    pseq: dict  # part_id -> first done epoch (eq eligibility)


def _footer_spans(out_dir: str) -> list[tuple[str, int, int | None, int | None, int]]:
    """(path, rg_index, part_min, part_max, nbytes) per row group; None
    bounds when the footer has no part_id stats (overlaps everything)."""
    spans = []
    for path in sorted(glob.glob(os.path.join(_chunks_dir(out_dir), "*.parquet"))):
        md = pq.ParquetFile(path).metadata
        try:
            pi = md.schema.to_arrow_schema().names.index("part_id")
        except ValueError:
            continue
        for rg in range(md.num_row_groups):
            info = md.row_group(rg)
            col = info.column(pi)
            st = col.statistics
            lo = st.min if st is not None and st.has_min_max else None
            hi = st.max if st is not None and st.has_min_max else None
            spans.append((path, rg, lo, hi, info.total_byte_size))
    return spans


def plan_store_splits(
    out_dir: str,
    state: dict,
    tombstones: dict,
    eq_maps: dict | None = None,
    target_split_bytes: int = 128 << 20,
) -> list[StoreSplit]:
    """Greedy-pack the live part_ids into byte-balanced contiguous
    ranges using footer row-group spans (proportional attribution) —
    the same planning Spark's FileSourceScanExec does from footers,
    kept deterministic (sorted files, sorted parts)."""
    parts = sorted(state["live"])
    if not parts:
        return []
    spans = _footer_spans(out_dir)
    # proportional per-part byte estimate
    est = {p: 0.0 for p in parts}
    import bisect

    for _, _, lo, hi, nbytes in spans:
        lo = parts[0] if lo is None else lo
        hi = parts[-1] if hi is None else hi
        i = bisect.bisect_left(parts, lo)
        j = bisect.bisect_right(parts, hi)
        covered = parts[i:j]
        if covered:
            share = nbytes / len(covered)
            for p in covered:
                est[p] += share
    splits: list[list[int]] = [[]]
    acc = 0.0
    for p in parts:
        if splits[-1] and acc + est[p] > target_split_bytes:
            splits.append([])
            acc = 0.0
        splits[-1].append(p)
        acc += est[p]
    out = []
    for grp in splits:
        lo, hi = grp[0], grp[-1]
        files: dict[str, list[int]] = {}
        for path, rg, smin, smax, _ in spans:
            smin = lo if smin is None else smin
            smax = hi if smax is None else smax
            if smin <= hi and smax >= lo:
                files.setdefault(path, []).append(rg)
        gset = set(grp)
        # eq sets ride a split only when one of its partitions predates
        # a delete epoch (post-rewrite stores stop paying the probe)
        pseq = {p: state["part_seq"].get(p, 1) for p in grp}
        eq = eq_maps or {}
        if eq:
            max_eq = max(
                (s for m in eq.values() for s in m.values()),
                default=None,
            )
            if max_eq is None or not any(
                s < max_eq for s in pseq.values()
            ):
                eq = {}
        out.append(
            StoreSplit(
                parts=tuple(grp),
                files=tuple((p, tuple(r)) for p, r in sorted(files.items())),
                attempts={
                    p: frozenset(state["live"][p]) for p in grp
                },
                tombstones={
                    p: tombstones[p] for p in gset & set(tombstones)
                },
                eq=eq,
                pseq=pseq if eq else {},
            )
        )
    return out


# ---------------------------------------------------------------------------
# task-side decode
# ---------------------------------------------------------------------------

_CHUNK_READ_COLS = [
    "part_id", "column", "chunk_seq", "row_start", "payload", "meta",
    "attempt_id",
]


def _decode_split(
    split: StoreSplit,
    items: list[tuple[str, dict]],
    batch_rows: int,
    masks: list[tuple] | None = None,
) -> Iterator[pa.RecordBatch]:
    import numpy as np

    phys_to_display = {physical_name(m, c): c for c, m in items}
    col_order = [c for c, _ in items]
    out_schema = pa.schema(
        [(c, str_to_type(m["dtype"])) for c, m in items]
    )
    part_set = set(split.parts)
    pieces = []
    for path, rgs in split.files:
        pf = pq.ParquetFile(path)
        cols = [
            c for c in _CHUNK_READ_COLS
            if c in pf.schema_arrow.names
        ]
        t = pf.read_row_groups(list(rgs), columns=cols)
        if "attempt_id" not in t.column_names:
            t = t.append_column(
                "attempt_id", pa.nulls(t.num_rows, pa.string())
            )
        pid = t.column("part_id").to_pylist()
        att = t.column("attempt_id").to_pylist()
        name = t.column("column").to_pylist()
        keep = [
            i
            for i in range(t.num_rows)
            if pid[i] in part_set
            and name[i] in phys_to_display
            and _attempt_ok(att[i], split.attempts[pid[i]])
        ]
        if keep:
            pieces.append(t.take(keep))
    if not pieces:
        return
    chunks = pa.concat_tables(pieces).sort_by(
        [("part_id", "ascending"), ("column", "ascending"),
         ("row_start", "ascending")]
    )
    display = pa.array(
        [phys_to_display[n] for n in chunks.column("column").to_pylist()],
        pa.string(),
    )
    with_pos = bool(split.tombstones) or bool(split.eq)
    kernel = _make_decode_kernel(
        col_order, out_schema, batch_rows, with_pos=with_pos
    )
    feed = pa.table(
        {
            "part_id": chunks.column("part_id"),
            "column": display,
            "payload": chunks.column("payload"),
            "meta": chunks.column("meta"),
            "row_start": chunks.column("row_start"),
        }
    )
    for batch in kernel(iter(feed.to_batches())):
        if with_pos:
            parts_np = batch.column(0).to_numpy(zero_copy_only=False)
            pos_np = batch.column(1).to_numpy(zero_copy_only=False)
            mask = np.ones(len(batch), dtype=bool)
            for p in np.unique(parts_np):
                dead = split.tombstones.get(int(p))
                if dead is not None:
                    sel = parts_np == p
                    mask[sel] &= ~np.isin(pos_np[sel], dead)
            if split.eq:
                # equality-delete subtraction: a row dies iff its
                # partition's first-done epoch is STRICTLY BEFORE the
                # newest delete epoch naming its key value (data-seq <
                # delete-seq; re-inserted keys survive)
                pseq_np = np.array(
                    [split.pseq.get(int(p), 1 << 62) for p in parts_np],
                    dtype=np.int64,
                )
                for col, vmap in split.eq.items():
                    vals = batch.column(
                        batch.schema.get_field_index(col)
                    ).to_pylist()
                    vseq = np.fromiter(
                        (vmap.get(v, 0) for v in vals),
                        dtype=np.int64,
                        count=len(vals),
                    )
                    mask &= ~(pseq_np < vseq)
            batch = pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(2, batch.num_columns)],
                schema=pa.schema(list(batch.schema)[2:]),
            ).filter(pa.array(mask))
        if masks:
            batch = _apply_masks(batch, masks)
        if len(batch):
            yield batch


def _attempt_ok(row_att: str | None, committed: frozenset) -> bool:
    # the _commit_join leniency: null on either side matches
    return row_att is None or None in committed or row_att in committed


# ---------------------------------------------------------------------------
# safe task-side filter masks (pure optimization; Spark re-applies all)
# ---------------------------------------------------------------------------

_MASKABLE = (int, str, bool, bytes)


def _compile_masks(filters: list[Filter], items) -> tuple[list[Filter], list[tuple]]:
    """(all filters back to Spark, exact-safe masks we ALSO apply).

    Only type-families whose Arrow comparison provably agrees with
    Spark's are masked (ints/strings/bools/bytes/None-checks); floats
    (NaN ordering) and timestamps (tz conversion) are never masked."""
    types = {c: str_to_type(m["dtype"]) for c, m in items}
    masks: list[tuple] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in types:
            continue
        col = attr[0]
        t = types[col]
        ok_family = (
            pa.types.is_integer(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_boolean(t)
            or pa.types.is_binary(t)
            or pa.types.is_large_binary(t)
        )
        if isinstance(f, IsNull):
            masks.append(("isnull", col))
        elif isinstance(f, IsNotNull):
            masks.append(("notnull", col))
        elif not ok_family:
            continue
        elif isinstance(f, EqualTo) and isinstance(f.value, _MASKABLE):
            masks.append(("eq", col, f.value))
        elif isinstance(f, In) and all(
            isinstance(v, _MASKABLE) for v in f.value
        ):
            try:
                # an IN-list literal outside the storage type's range
                # (e.g. 300 against int8) cannot build a typed value
                # set — skip the mask (exact-or-skipped contract)
                pa.array(list(f.value), t)
            except Exception:
                continue
            masks.append(("in", col, list(f.value)))
        elif isinstance(f, GreaterThan) and isinstance(f.value, _MASKABLE):
            masks.append(("gt", col, f.value))
        elif isinstance(f, GreaterThanOrEqual) and isinstance(
            f.value, _MASKABLE
        ):
            masks.append(("ge", col, f.value))
        elif isinstance(f, LessThan) and isinstance(f.value, _MASKABLE):
            masks.append(("lt", col, f.value))
        elif isinstance(f, LessThanOrEqual) and isinstance(
            f.value, _MASKABLE
        ):
            masks.append(("le", col, f.value))
    return filters, masks


def _apply_masks(batch: pa.RecordBatch, masks: list[tuple]) -> pa.RecordBatch:
    import pyarrow.compute as pc

    keep = None
    for m in masks:
        op, col = m[0], m[1]
        arr = batch.column(batch.schema.get_field_index(col))
        try:
            if op == "isnull":
                cond = pc.is_null(arr)
            elif op == "notnull":
                cond = pc.is_valid(arr)
            elif op == "eq":
                cond = pc.equal(arr, m[2])
            elif op == "in":
                cond = pc.is_in(arr, value_set=pa.array(m[2], arr.type))
            elif op == "gt":
                cond = pc.greater(arr, m[2])
            elif op == "ge":
                cond = pc.greater_equal(arr, m[2])
            elif op == "lt":
                cond = pc.less(arr, m[2])
            else:
                cond = pc.less_equal(arr, m[2])
        except Exception:
            # a comparison Arrow cannot type (range overflow, cast)
            # skips ITS mask only — Spark re-applies every filter, so
            # the result stays exact (the contract: exact-or-skipped)
            continue
        cond = pc.fill_null(cond, op == "isnull")
        keep = cond if keep is None else pc.and_(keep, cond)
    return batch.filter(keep) if keep is not None else batch


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class ChoetlBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self._dir = options["path"]
        self._batch_rows = int(options.get("batch_rows", 8192))
        self._target = int(options.get("target_split_bytes", 128 << 20))
        self._as_of = _as_of_from_options(options)
        # snapshot-scoped schema: column names (and the decode plan)
        # resolve against the epoch's schema under as_of
        self._items = _manifest_columns(self._dir, self._as_of)
        self._masks: list[tuple] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        unsupported, self._masks = _compile_masks(filters, self._items)
        return unsupported

    def partitions(self):
        state = ledger_state(self._dir, self._as_of)
        tomb = _delete_positions(self._dir, state)
        eq = _eq_value_maps(self._dir, state, self._items)
        return plan_store_splits(
            self._dir, state, tomb, eq, self._target
        )

    def read(self, partition: StoreSplit):
        if partition is None:
            # Spark substitutes [None] when partitions() returns [] —
            # an empty store reads as an empty DataFrame, not a crash
            return
        yield from _decode_split(
            partition, self._items, self._batch_rows, self._masks
        )


# ---------------------------------------------------------------------------
# streaming reader (ledger epochs as offsets)
# ---------------------------------------------------------------------------


class ChoetlStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self._dir = options["path"]
        self._batch_rows = int(options.get("batch_rows", 8192))
        self._target = int(options.get("target_split_bytes", 128 << 20))
        self._start = int(options.get("start_seq", 0))
        self._skip_changes = str(
            options.get("skip_change_commits", "false")
        ).lower() in ("true", "1")
        self._items = _manifest_columns(self._dir)

    def initialOffset(self):  # noqa: N802
        return {"seq": self._start}

    def latestOffset(self):  # noqa: N802
        return {"seq": max(ledger_state(self._dir)["max_seq"], self._start)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["seq"]), int(end["seq"])
        if hi <= lo:
            return []
        state = ledger_state(self._dir)
        change_epochs = {s for s in state["change_seqs"] if lo < s <= hi}
        if change_epochs and not self._skip_changes:
            raise ValueError(
                f"ledger epochs {sorted(change_epochs)} are "
                "delete/replace commits — the stream reads appends "
                "only. Set option('skip_change_commits', 'true') to "
                "skip them (Iceberg streaming-skip-delete-snapshots "
                "semantics), or consume exact diffs with "
                "ledger.read_changes."
            )
        live: dict[int, set] = {}
        for s, keys in state["done_by_seq"].items():
            if lo < s <= hi and s not in change_epochs:
                for p, atts in keys.items():
                    live[p] = live.get(p, set()) | atts
        return plan_store_splits(
            self._dir, {"live": live, "part_seq": {}}, {}, None, self._target
        )

    def read(self, partition: StoreSplit):
        if partition is None:
            return  # empty epoch range planned [] -> Spark sends None
        yield from _decode_split(partition, self._items, self._batch_rows)

    def commit(self, end):
        pass

    def stop(self):
        pass


# ---------------------------------------------------------------------------
# batch writer
# ---------------------------------------------------------------------------


@dataclass
class _TaskResult(WriterCommitMessage):
    chunk_file: str
    attempt_id: str
    parts: list  # [(part_id, n_rows, raw, enc, n_chunks, codec_map, fp)]
    dtypes: dict  # column -> storage dtype string observed by the task


_STORAGE_FROM_SPARK = {
    "boolean": "bool", "byte": "int8", "short": "int16",
    "integer": "int32", "long": "int64", "float": "float32",
    "double": "float64", "string": "string", "binary": "binary",
    "date": "date32",
}

def _schema_manifest_fallback(schema, tz: str) -> dict:
    """Manifest entries from a Spark StructType — used only when a
    write commits ZERO rows into a store with no prior manifest (tasks
    normally report the exact Arrow storage types they encoded)."""
    out = {}
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in _STORAGE_FROM_SPARK:
            out[f.name] = {"dtype": _STORAGE_FROM_SPARK[t], "logical": None}
        elif t == "timestamp":
            out[f.name] = {"dtype": f"timestamp[us][{tz}]", "logical": None}
        elif t == "timestamp_ntz":
            out[f.name] = {"dtype": "timestamp[us]", "logical": None}
        elif t == "array" and (
            f.dataType.elementType.typeName() in _STORAGE_FROM_SPARK
        ):
            inner = _STORAGE_FROM_SPARK[f.dataType.elementType.typeName()]
            out[f.name] = {"dtype": f"list[{inner}]", "logical": None}
        else:
            raise NotImplementedError(
                f"column {f.name!r}: nested/decimal types store as JSON "
                "via encode_dataframe/encode_with_resume, not the "
                "datasource writer"
            )
    return out


class ChoetlWriter(DataSourceArrowWriter):
    """Distributed encode into the store. Each task = one scan-local
    logical partition (``base + task_id`` — the base clears every
    existing part_id driver-side at plan time, the streaming sink's
    namespacing rule, same single-writer caveat). ``mode("append")``
    commits an append snapshot; ``mode("overwrite")`` additionally
    retires every previously-live partition in the SAME ledger append —
    an atomic replace snapshot (readers see old or new, never both)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self._dir = options["path"]
        self._overwrite = overwrite
        self._tz = options.get("timezone", "UTC")
        self._schema = schema
        profile = options.get("optimize_for", "speed")
        kw = {"optimize_for": profile, "shuffle": "none"}
        if "chunk_bytes" in options:
            kw["chunk_bytes"] = int(options["chunk_bytes"])
        self._cfg = EncodeConfig(**kw)
        if "part_id" in [f.name for f in schema.fields]:
            # the datasource writer owns partition-id assignment (base +
            # task id); a caller-planned part_id column would collide
            # with it and double up inside the encode kernel's feed
            raise ValueError(
                "input has a part_id column: the datasource writer "
                "assigns partition ids itself — drop the column, or "
                "use encode_with_resume for caller-planned part ids"
            )
        # fail fast on unsupported schemas (driver, before any task)
        _schema_manifest_fallback(schema, self._tz)
        self._base = ledger_state(self._dir)["max_part"] + 1

    def write(self, iterator: Iterator[pa.RecordBatch]) -> _TaskResult:
        from pyspark import TaskContext

        part_id = self._base + TaskContext.get().partitionId()
        attempt = uuid.uuid4().hex
        kernel = _make_encode_kernel(self._cfg, {})

        def with_pid(batches):
            for b in batches:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([part_id] * len(b), pa.int64()),
                        *[b.column(i) for i in range(b.num_columns)],
                    ],
                    names=["part_id", *b.schema.names],
                )

        out = list(kernel(with_pid(iterator)))
        if not out:
            return _TaskResult("", attempt, [], {})
        chunks = pa.Table.from_batches(out)
        chunks = chunks.append_column(
            "attempt_id", pa.array([attempt] * chunks.num_rows, pa.string())
        )
        os.makedirs(_chunks_dir(self._dir), exist_ok=True)
        fname = os.path.join(
            _chunks_dir(self._dir), f"ds-{attempt}-{part_id}.parquet"
        )
        pq.write_table(chunks, fname)
        metas = sorted(chunks.column("meta").to_pylist())
        import hashlib

        fp = int.from_bytes(
            hashlib.md5(",".join(metas).encode()).digest()[:8],
            "big", signed=True,
        )
        pairs = sorted(
            {
                (c, k)
                for c, k in zip(
                    chunks.column("column").to_pylist(),
                    chunks.column("codec").to_pylist(),
                )
            }
        )
        codec_map = json.dumps(
            [{"column": c, "codec": k} for c, k in pairs],
            separators=(",", ":"),
        )
        n_cols = len({c for c, _ in pairs})
        rows_x_cols = sum(chunks.column("n_rows").to_pylist())
        dtypes = {}
        for c, m in zip(
            chunks.column("column").to_pylist(),
            chunks.column("meta").to_pylist(),
        ):
            if c not in dtypes:
                meta = json.loads(m)
                child = meta["child"] if meta["codec"] == "zstd" else meta
                dtypes[c] = child["dtype"]
        return _TaskResult(
            chunk_file=fname,
            attempt_id=attempt,
            parts=[
                (
                    part_id,
                    rows_x_cols // max(n_cols, 1),
                    sum(chunks.column("raw_bytes").to_pylist()),
                    sum(chunks.column("encoded_bytes").to_pylist()),
                    chunks.num_rows,
                    codec_map,
                    fp,
                )
            ],
            dtypes=dtypes,
        )

    def commit(self, messages):
        state = ledger_state(self._dir)
        run_seq = next_epoch(self._dir)
        run_id = f"ds-write-{uuid.uuid4().hex[:12]}"
        rows = []
        observed: dict[str, str] = {}
        for msg in messages:
            if msg is None:
                continue
            for p, n, raw, enc, nch, cmap, fp in msg.parts:
                rows.append(
                    (p, fp, n, raw, enc, nch, cmap, run_id, run_seq,
                     "done", msg.attempt_id)
                )
            for c, d in msg.dtypes.items():
                prev = observed.get(c)
                observed[c] = d if prev is None else (
                    _widened_dtype(prev, d) or prev
                )
        if self._overwrite:
            for p in sorted(state["live"]):
                rows.append(
                    (p, None, 0, 0, 0, 0, None, run_id, run_seq,
                     "retired", uuid.uuid4().hex)
                )
        # manifest BEFORE the ledger append (readers resolving the new
        # epoch must find every column's entry)
        fallback = _schema_manifest_fallback(self._schema, self._tz)
        new_cols = {
            c: {"dtype": observed.get(c, m["dtype"]), "logical": None}
            for c, m in fallback.items()
        }
        prior = read_manifest(self._dir) or {}
        taken = reserved_physicals(prior)
        for col, m in new_cols.items():
            pm = prior.get(col)
            if pm is not None:
                if m["dtype"] != pm["dtype"]:
                    wide = _widened_dtype(pm["dtype"], m["dtype"])
                    if wide is None:
                        raise ValueError(
                            f"schema evolution: column {col!r} changes "
                            f"storage type {pm['dtype']} -> {m['dtype']}"
                        )
                    m["dtype"] = wide
                if "phys" in pm:
                    m["phys"] = pm["phys"]
                if physical_name(m, col) != col:
                    raise NotImplementedError(
                        "datasource writer into a store with renamed/"
                        "re-added columns — use encode_with_resume"
                    )
            else:
                if col in taken:
                    raise NotImplementedError(
                        f"column {col!r} would need a fresh physical key "
                        "(a dropped column reserves it) — use "
                        "encode_with_resume"
                    )
                taken.add(col)
        merged = dict(prior)
        merged.update(new_cols)
        os.makedirs(self._dir, exist_ok=True)
        write_manifest(self._dir, merged)
        if rows:
            table = pa.Table.from_pylist(
                [dict(zip(LEDGER_SCHEMA.names, r)) for r in rows],
                schema=LEDGER_SCHEMA,
            )
            _write_ledger_file(
                self._dir, table, f"ds-{uuid.uuid4().hex}.parquet"
            )

    def abort(self, messages):
        for msg in messages:
            if msg is not None and msg.chunk_file:
                try:
                    os.unlink(msg.chunk_file)
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class ChoetlDataSource(DataSource):
    """``spark.dataSource.register(ChoetlDataSource)`` then use format
    name ``"choetl"`` in read/write/readStream. Options: ``as_of``,
    ``ref``, ``batch_rows``, ``target_split_bytes`` (read);
    ``start_seq``, ``skip_change_commits`` (stream); ``optimize_for``,
    ``chunk_bytes``, ``timezone`` (write)."""

    @classmethod
    def name(cls) -> str:
        return "choetl"

    def schema(self):
        return _store_schema_ddl(
            self.options["path"], _as_of_from_options(self.options)
        )

    def reader(self, schema) -> ChoetlBatchReader:
        return ChoetlBatchReader(self.options)

    def streamReader(self, schema) -> ChoetlStreamReader:  # noqa: N802
        return ChoetlStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> ChoetlWriter:
        return ChoetlWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the ``choetl`` format on a session (idempotent) and
    enable Python-data-source filter pushdown — the reader implements
    ``pushFilters``, which Spark refuses to initialize while
    ``spark.sql.python.filterPushdown.enabled`` is false."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ChoetlDataSource)
