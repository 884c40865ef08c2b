"""Seeded web-page change logs, written to parquet before the program runs.

The benchmark owns its load generator so that the program under test
only ever receives files: a change to ``cdc.events`` cannot change the
inputs.  The shape matches ``cdc.events.generate_change_events``:
``lsn, op, url, warc_ts, html, lang`` with a dense unique ``lsn``,
out-of-order ``warc_ts`` for a share of events, NULL html on deletes
and an optional hot url.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = (
    "lsn bigint, op string, url string, warc_ts timestamp_ntz, "
    "html binary, lang string"
)
TABLE_SCHEMA = "url string, warc_ts timestamp_ntz, lsn bigint, html binary, lang string"

_ARROW_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)
_LANGS = np.array(["en", "es", "de", "fr", "zh", "pt", "ru", "ja"])
# shares of change events: out-of-order warc_ts, deletes, inserts (the
# rest are updates)
OOO_SHARE = 0.10
DELETE_SHARE = 0.10
INSERT_SHARE = 0.25
_BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
# small row groups so an lsn-range epoch filter skips most of a file
ROW_GROUP_ROWS = 256


@dataclass(frozen=True)
class LogShape:
    n_urls: int
    paragraphs: int
    hot_share: float = 0.0


def url_of(i: int) -> str:
    return f"https://site{i % 50}.example.com/p/{i}"


_PARAGRAPH = np.frombuffer(b"<p>............ body words ............ content &amp; more</p>", np.uint8)
_WORDS = (3, 27)  # offsets of the two 12-digit hex words in _PARAGRAPH
_HEX = np.frombuffer(b"0123456789abcdef", np.uint8)


def _html(rng: np.random.Generator, n: int, paragraphs: int, urls: np.ndarray) -> list[bytes]:
    """Pages whose paragraphs carry random hex words; the bodies are
    filled in as one byte array rather than formatted page by page."""
    body = np.tile(_PARAGRAPH, (n, paragraphs, 1))
    for at in _WORDS:
        body[:, :, at : at + 12] = _HEX[rng.integers(0, 16, size=(n, paragraphs, 12))]
    body = body.reshape(n, -1)
    return [
        (
            f"<html><head><title>{urls[i]}</title><script>var x={i};</script>"
            "<style>.a{color:red}</style></head><body><nav><a href='/'>home</a>"
            "</nav><div class='main'>"
        ).encode()
        + body[i].tobytes()
        + b"</div><footer>(c) example corp</footer></body></html>"
        for i in range(n)
    ]


def initial_load(rng: np.random.Generator, shape: LogShape) -> pa.Table:
    """One insert per url, lsn 0..n_urls-1: the pre-populated table."""
    n = shape.n_urls
    u = rng.permutation(n)
    return _table(rng, 0, u, np.full(n, "insert"), np.arange(n, dtype=np.int64), shape)


def changes(rng: np.random.Generator, lsn0: int, n: int, shape: LogShape) -> pa.Table:
    """``n`` change events with lsn ``lsn0 .. lsn0+n-1``."""
    u = rng.integers(0, shape.n_urls, size=n)
    u[rng.random(n) < shape.hot_share] = 0
    roll = rng.random(n)
    op = np.where(
        roll < DELETE_SHARE,
        "delete",
        np.where(roll < DELETE_SHARE + INSERT_SHARE, "insert", "update"),
    )
    minutes = np.arange(lsn0, lsn0 + n, dtype=np.int64)
    ooo = rng.random(n) < OOO_SHARE
    minutes[ooo] -= rng.integers(shape.n_urls, 4 * shape.n_urls, size=int(ooo.sum()))
    return _table(rng, lsn0, u, op, minutes, shape)


def _table(rng, lsn0, u, op, minutes, shape: LogShape) -> pa.Table:
    n = len(u)
    urls = np.array([url_of(int(i)) for i in u], dtype=object)
    html = _html(rng, n, shape.paragraphs, urls)
    html = [None if o == "delete" else h for o, h in zip(op, html)]
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(lsn0, lsn0 + n, dtype=np.int64)),
            pa.array(op.astype(object), pa.string()),
            pa.array(urls, pa.string()),
            pa.array(_BASE_US + minutes * 60_000_000, pa.timestamp("us")),
            pa.array(html, pa.binary()),
            pa.array(_LANGS[u % len(_LANGS)].astype(object), pa.string()),
        ],
        schema=_ARROW_SCHEMA,
    )


def write_striped(tbl: pa.Table, path: str, n_files: int) -> None:
    """Write ``tbl`` as ``n_files`` files striped by ``lsn % n_files``,
    each lsn-sorted with small row groups: a contiguous lsn epoch then
    reads a slice of every file (one task per core) and skips the rest."""
    os.makedirs(path, exist_ok=True)
    lsn = tbl.column("lsn").to_numpy()
    for i in range(n_files):
        part = tbl.filter(pa.array(lsn % n_files == i)).sort_by("lsn")
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
            compression="zstd",
        )


def write_file(tbl: pa.Table, path: str, mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="zstd")
    if mtime is not None:
        os.utime(path, (mtime, mtime))
