"""Seeded input generation for the benchmark, written to parquet.

The tables have the shape and defect rates of
``okay_spark.fixtures.interleaved_documents`` / ``media_catalog``, but are
built here with numpy and pyarrow, so the program under test receives only
parquet files. Every per-row value comes from a 64-bit splitmix hash of
``(seed, tag, row[, span])``: the same seed gives the same bytes, and a row's
content does not depend on how many rows are generated.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_SPANS = 8
PARTS = 32

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = x + _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        return x ^ (x >> np.uint64(31))


class Hasher:
    """Per-row hash streams keyed by (seed, tag)."""

    def __init__(self, seed: int | str):
        self.seed = seed

    def __call__(self, tag: str, *cols: np.ndarray) -> np.ndarray:
        key = hashlib.blake2b(f"{self.seed}|{tag}".encode(), digest_size=8).digest()
        x = np.full(np.broadcast(*cols).shape, np.frombuffer(key, dtype=np.uint64)[0])
        with np.errstate(over="ignore"):
            for c in cols:
                x = _splitmix(x ^ np.asarray(c).astype(np.uint64))
        return x

    def p(self, tag: str, per_mille: int, *cols: np.ndarray) -> np.ndarray:
        """True for ~per_mille/1000 of rows, deterministically."""
        return self(tag, *cols) % np.uint64(1000) < np.uint64(per_mille)


def documents(seed: int | str, n: int, *, catalog_size: int) -> pa.Table:
    """Rows ``0 .. n-1`` of the seeded interleaved-documents table:
    ``doc_id: string, spans: list<struct<kind, text, media_ref, offset>>,
    part: int``.

    Defect rates follow the fixture: duplicate doc_id 2.5%, malformed doc_id
    0.5%, empty spans 1.5%; per span null kind 0.5%, invalid kind 0.5%,
    empty text 1%, orphan media_ref 1%, negative offset 1%."""
    h = Hasher(seed)
    rid = np.arange(n, dtype=np.int64)

    dup = h.p("dup", 25, rid) & (rid > 0)
    bad_id = h.p("badid", 5, rid)
    base_id = np.where(dup, rid - 1, rid)
    doc_id = [
        f"DOC_{b}" if bad else f"doc-{b:012d}" for b, bad in zip(base_id.tolist(), bad_id.tolist())
    ]
    part = (h("part", base_id, bad_id) % np.uint64(PARTS)).astype(np.int32)

    n_spans = np.where(
        h.p("empty", 15, rid), 0, 1 + (h("nspans", rid) % np.uint64(MAX_SPANS - 1)).astype(np.int64)
    )

    # every (row, j) cell of the MAX_SPANS grid, then keep j < n_spans
    j = np.arange(MAX_SPANS, dtype=np.int64)[None, :]
    r = rid[:, None]
    keep = j < n_spans[:, None]
    hj = h("span", r, j)
    is_media = (hj % np.uint64(3)) == 0
    null_kind = h.p("nullkind", 5, r, j)
    bad_kind = h.p("badkind", 5, r, j)
    words = 1 + (h("words", r, j) % np.uint64(12)).astype(np.int64)
    word = (h("w", r, j) % np.uint64(997)).astype(np.int64)
    empty_text = h.p("emptytext", 10, r, j)
    ref_id = np.where(
        h.p("orphan", 10, r, j),
        catalog_size + (h("o", r, j) % np.uint64(1000)).astype(np.int64),
        (h("ref", r, j) % np.uint64(catalog_size)).astype(np.int64),
    )
    offset = np.where(
        h.p("disorder", 10, r, j), -1, j * 16 + (hj % np.uint64(16)).astype(np.int64)
    ).astype(np.int32)

    kinds, texts, refs = [], [], []
    for media, nk, bk, w, wd, et, ref in zip(
        is_media[keep].tolist(),
        null_kind[keep].tolist(),
        bad_kind[keep].tolist(),
        words[keep].tolist(),
        word[keep].tolist(),
        empty_text[keep].tolist(),
        ref_id[keep].tolist(),
    ):
        kinds.append(None if nk else "blob" if bk else "media" if media else "text")
        if media:
            texts.append(None)
            refs.append(f"media-{ref:08d}")
        else:
            texts.append("" if et else "tok" + f" w{wd}" * w)
            refs.append(None)

    flat = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offset[keep], pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    spans = pa.ListArray.from_arrays(pa.array(offsets), flat)
    return pa.table(
        {"doc_id": pa.array(doc_id, pa.string()), "spans": spans, "part": pa.array(part, pa.int32())}
    )


def media_catalog(seed: int, size: int) -> pa.Table:
    """Unique ``media_ref`` per row, with a kind and a byte size."""
    h = Hasher(seed)
    rid = np.arange(size, dtype=np.int64)
    kind = np.array(["image", "audio", "video"])[(h("mkind", rid) % np.uint64(3)).astype(np.int64)]
    return pa.table(
        {
            "media_ref": pa.array([f"media-{i:08d}" for i in range(size)], pa.string()),
            "media_kind": pa.array(kind.tolist(), pa.string()),
            "bytes": pa.array(1 + (h("mbytes", rid) % np.uint64(10_000_000)).astype(np.int64)),
        }
    )


def write_partitioned(table: pa.Table, path: str) -> None:
    """Hive-partitioned by ``part`` (one file per partition), the layout the
    job's partition-granular resume prunes on."""
    pq.write_to_dataset(
        table, path, partition_cols=["part"], basename_template="data-{i}.parquet"
    )


def write_files(table: pa.Table, path: str, n_files: int, prefix: str) -> list[str]:
    """``table`` split into ``n_files`` row-contiguous parquet files."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    out = []
    for i in range(n_files):
        f = os.path.join(path, f"{prefix}-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        out.append(f)
    return out
