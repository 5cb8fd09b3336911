"""Seeded inputs and their expected outputs.

Every input is a pure function of the seed: the seed picks the
``synth`` id range, the lookup keys, the upsert batches and the scan
windows. Expected outputs are regenerated from the id embedded in each
url (``.../page/<id>?crawl=cc``), so a checker needs no copy of what the
engine stored.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from choetl_spark.synth import _BASE_TS_US, extract_text_from_html, synth_batch

# ids of one seed live in [base, base + rows); seeds are spaced far
# enough apart that two seeds never share an id
_ID_STRIDE = 100_000
_URL_ID = re.compile(r"/page/(\d+)\?crawl=cc$")
# re-crawls shift warc_ts by whole days per version
_DAY_US = 86_400_000_000
# lookup key kinds, in a fixed seed-independent order (70% existing,
# 20% upserted earlier in the run, 10% absent): the seed picks the keys,
# never the mix, so the p50 compares like with like across seeds
KIND_SCHEDULE = "EEAEEUEEUE"
_TS = pa.timestamp("us", tz="UTC")
TS_MOD = 1 << 31


def id_base(seed: int) -> int:
    return (seed % 997 + 1) * _ID_STRIDE


def url_id(url: str) -> int:
    m = _URL_ID.search(url)
    if m is None:
        raise ValueError(f"not a synth url: {url!r}")
    return int(m.group(1))


def pages(ids: np.ndarray, version: int = 0, batch_rows: int = 512) -> pa.Table:
    """The synth pages for ``ids``; ``version`` > 0 is the re-crawl of
    the same urls: a later ``warc_ts`` and html/text carrying a
    version marker (text stays exactly the html's body words)."""
    ids = np.asarray(ids, dtype=np.int64)
    batches = [
        synth_batch(ids[i : i + batch_rows]) for i in range(0, len(ids), batch_rows)
    ]
    t = pa.Table.from_batches(batches)
    # an instant (Spark TIMESTAMP), as synth.webpages produces it; a
    # naive parquet timestamp would read back as TIMESTAMP_NTZ
    t = t.set_column(1, "warc_ts", pc.cast(t.column("warc_ts"), _TS))
    if version == 0:
        return t
    mark = f" recrawl{version}"
    text = pc.binary_join_element_wise(t.column("text"), mark, "")
    html = pa.array(
        [h.replace(b"</p>", mark.encode() + b"</p>", 1)
         for h in t.column("html").to_pylist()],
        type=pa.binary(),
    )
    ts = pc.cast(
        pc.add(pc.cast(t.column("warc_ts"), pa.int64()), version * _DAY_US),
        _TS,
    )
    return t.set_column(1, "warc_ts", ts).set_column(
        2, "html", html).set_column(3, "text", text)


def expected_row(url: str, version: int) -> dict:
    """Regenerate the row a lookup of ``url`` must return."""
    row = pages(np.array([url_id(url)]), version).to_pylist()[0]
    if extract_text_from_html(row["html"]) != row["text"]:
        raise AssertionError(f"synth invariant broken for {url}")
    return row


def lookup_ok(rows: list[dict], url: str, version: int | None) -> bool:
    """A lookup of ``url`` is right when it returns no row for an absent
    url (``version`` None) and otherwise exactly one row, byte-identical
    to the page at its latest ``version``."""
    if version is None:
        return rows == []
    if len(rows) != 1:
        return False
    want = expected_row(url, version)
    got = rows[0]
    return (got["url"] == url and bytes(got["html"]) == want["html"]
            and got["text"] == want["text"])


def content_checksum(t: pa.Table) -> tuple:
    """The checksum the scans compute in Spark, computed from the
    source: (rows, sum crc32(url), sum of warc_ts micros mod ``TS_MOD``,
    sum crc32(html), sum crc32(text), sum crc32(lang)). Every term stays
    far from int64 overflow."""

    def crc_sum(col: str) -> int:
        return sum(
            zlib.crc32(v if isinstance(v, bytes) else v.encode())
            for v in t.column(col).to_pylist()
        )

    ts = pc.cast(t.column("warc_ts"), pa.int64()).to_numpy()
    return (
        t.num_rows,
        crc_sum("url"),
        int((ts % TS_MOD).sum()),
        crc_sum("html"),
        crc_sum("text"),
        crc_sum("lang"),
    )


def table_digest(t: pa.Table) -> str:
    h = hashlib.sha256()
    for batch in t.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def _row_bytes(t: pa.Table) -> np.ndarray:
    """Arrow data bytes per row: string/binary values plus offsets, and
    the 8-byte timestamp."""
    n = np.full(t.num_rows, 8, dtype=np.int64)
    for col in ("url", "html", "text", "lang"):
        n += np.asarray(pc.binary_length(t.column(col))) + 4
    return n


def _first_bytes(base: int, target: int) -> pa.Table:
    """The pages ``base, base+1, ...`` up to the first that brings their
    data to ``target`` bytes."""
    parts, total, start = [], 0, base
    while total < target:
        t = pages(np.arange(start, start + 512))
        cum = total + np.cumsum(_row_bytes(t))
        keep = int(np.searchsorted(cum, target)) + 1
        parts.append(t.slice(0, keep))
        total = int(cum[min(keep, len(cum)) - 1])
        start += 512
    return pa.concat_tables(parts).combine_chunks()


class Inputs:
    """All seeded inputs of one run over a table of the seed's first
    pages that together hold ``raw_mb`` MB of Arrow data. Fixing the
    bytes rather than the row count keeps every seed's throughput
    comparable: page sizes are heavy-tailed, so a fixed row count would
    vary the input size by seed."""

    def __init__(self, seed: int, raw_mb: float, upsert_rows: int = 50):
        self.upsert_rows = upsert_rows
        self.base = id_base(seed)
        self.table = _first_bytes(self.base, int(raw_mb * 1e6))
        self.rows = self.table.num_rows
        self.ids = np.arange(self.base, self.base + self.rows, dtype=np.int64)
        self.raw_bytes = self.table.nbytes
        self._rng = random.Random(seed)
        self.urls = self.table.column("url").to_pylist()
        # url -> latest version committed by this run's upserts
        self.version: dict[str, int] = {}

    def existing_key(self) -> str:
        return self.urls[self._rng.randrange(self.rows)]

    def absent_key(self) -> str:
        # ids past the table's range: same url shape, never ingested
        gap = self.rows + self._rng.randrange(1, _ID_STRIDE - self.rows)
        return pages(np.array([self.base + gap])).column("url")[0].as_py()

    def upserted_key(self) -> str | None:
        if not self.version:
            return None
        return self._rng.choice(sorted(self.version))

    def lookup_key(self, i: int) -> tuple[str, str]:
        """The ``i``-th lookup of the closed loop: (kind, url)."""
        kind = KIND_SCHEDULE[i % len(KIND_SCHEDULE)]
        if kind == "U":
            url = self.upserted_key()
            if url is not None:
                return kind, url
            kind = "E"
        if kind == "A":
            return kind, self.absent_key()
        return kind, self.existing_key()

    def next_upsert(self) -> pa.Table:
        """The next batch of re-crawled pages: ``upsert_rows`` distinct
        existing urls, each at its next version. Call
        :meth:`commit_upsert` once the engine acknowledged the batch."""
        picks = self._rng.sample(range(self.rows), self.upsert_rows)
        out = []
        for i in sorted(picks):
            v = self.version.get(self.urls[i], 0) + 1
            out.append(pages(self.ids[i : i + 1], v))
        return pa.concat_tables(out)

    def commit_upsert(self, batch: pa.Table) -> None:
        for url, html in zip(batch.column("url").to_pylist(),
                             batch.column("html").to_pylist()):
            m = re.search(rb" recrawl(\d+)</p>", html)
            self.version[url] = int(m.group(1))

    def warc_window(self, share: float = 0.05) -> tuple[dt.datetime, dt.datetime]:
        """A seeded ``[lo, hi]`` warc_ts window covering ~``share`` of
        the table's ingest timestamps."""
        span = self.rows * 37_000_000
        width = int(span * share)
        lo_us = _BASE_TS_US + self.base * 37_000_000 + self._rng.randrange(
            0, span - width)
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return (epoch + dt.timedelta(microseconds=lo_us),
                epoch + dt.timedelta(microseconds=lo_us + width))

    def window_rows(self, lo: dt.datetime, hi: dt.datetime) -> pa.Table:
        ts = self.table.column("warc_ts")
        mask = pc.and_(pc.greater_equal(ts, pa.scalar(lo, _TS)),
                       pc.less_equal(ts, pa.scalar(hi, _TS)))
        return self.table.filter(mask)
