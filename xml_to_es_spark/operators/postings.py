"""Posting-list physical format: delta + varbyte with per-block offsets.

The reference delegates index physics to ElasticSearch/Lucene
(ElasticIndexer.js:76); BASELINE.json pins our from-scratch format:
per (term, salt) segment, doc_ids sorted ascending are delta-encoded
and varbyte-compressed; tf and doc-length streams are varbyte too
(storing dl in the posting makes BM25 scoring join-free at query
time — no 10^12-row doc-length join at Common-Crawl scale). Every
``BLOCK_SIZE`` postings we record the block's last doc_id and its
byte offset in each stream, so a doc-range task decodes only the
blocks that overlap its range.

All encode/decode paths are numpy-vectorized (loops are over *byte
positions* — ≤10 iterations — never over postings), so they run fast
inside Arrow-batched pandas UDFs (input_hint bans per-row Python).
"""

from __future__ import annotations

import numpy as np

DEFAULT_BLOCK_SIZE = 128
_MAX_VARBYTE_LEN = 10  # 64 bits / 7


def varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (for block offset tables)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for j in range(1, _MAX_VARBYTE_LEN):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    return nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode non-negative int64/uint64 values, 7 bits per byte,
    little-endian groups, high bit = continuation."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    nbytes = varbyte_lengths(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    for j in range(_MAX_VARBYTE_LEN):
        mask = nbytes > j
        if not mask.any():
            break
        idx = starts[mask] + j
        byte = (v[mask] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        cont = (j < nbytes[mask] - 1).astype(np.uint8) << 7
        out[idx] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varbyte_decode(data: bytes, n: int | None = None) -> np.ndarray:
    """Decode a varbyte stream to uint64. ``n`` (expected count) is a
    consistency check when provided. A stream of one-byte values is a
    plain widening; otherwise each byte's 7 bits are shifted by its
    place in its value and OR-reduced per value (no per-length loop)."""
    b = np.frombuffer(data, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if ends.size == b.size:  # every value fits in one byte (or no bytes)
        vals = b.astype(np.uint64)
    elif not ends.size:
        vals = np.zeros(0, dtype=np.uint64)
    else:
        b = b[: ends[-1] + 1]  # bytes after the last value's end are ignored
        starts = np.empty_like(ends)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        place = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
        groups = (b & 0x7F).astype(np.uint64) << (7 * place).astype(np.uint64)
        vals = np.bitwise_or.reduceat(groups, starts)
    if n is not None and vals.size != n:
        raise ValueError(f"varbyte stream holds {vals.size} values, expected {n}")
    return vals


def encode_segment(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    positions: list | None = None,
) -> dict:
    """Encode one (term, salt) posting segment.

    ``doc_ids`` must be sorted strictly ascending. Returns a dict of
    plain-python/bytes values matching the postings table schema
    (see operators.index_build.POSTINGS_SCHEMA).

    ``positions`` (optional, one ascending int array per doc, doc i's
    length == tfs[i]) adds the POSITIONAL sidecar for phrase queries:
    per-doc delta+varbyte streams concatenated in doc order — the tf
    stream doubles as the per-doc position-count directory, so decode
    needs no extra length table. Omitted → empty sidecar columns.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        raise ValueError("empty posting segment")
    if n > 1 and not (np.diff(doc_ids) > 0).all():
        raise ValueError("doc_ids must be strictly ascending within a segment")
    if (tfs < 1).any():
        raise ValueError("tfs must be >= 1 (a posting records an occurrence)")
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = np.uint64(doc_ids[0])
    if n > 1:
        deltas[1:] = np.diff(doc_ids).astype(np.uint64)
    nblocks = (n + block_size - 1) // block_size
    pad = nblocks * block_size - n
    # per-block skip metadata: each block's last doc
    di = np.pad(doc_ids, (0, pad), constant_values=doc_ids[-1]).reshape(nblocks, block_size)
    # per-block byte offsets → blocks decode independently (a
    # doc-range task never touches the bytes of other ranges)
    def block_offsets(vals: np.ndarray) -> list[int]:
        ends = np.cumsum(varbyte_lengths(vals))
        starts = np.concatenate([[0], ends[:-1]])
        return starts[::block_size].astype(np.int64).tolist()

    docs_bin = varbyte_encode(deltas)
    tfs_bin = varbyte_encode(tfs.astype(np.uint64))
    dls_bin = varbyte_encode(dls.astype(np.uint64))
    if positions is not None:
        if len(positions) != n:
            raise ValueError("positions must hold one array per doc")
        # one flat delta pass with per-doc resets instead of a Python
        # loop allocating diff arrays per doc (guide §4.2: vectorize
        # whole batches — this loop dominated the positional encode)
        flat = np.concatenate(positions).astype(np.int64) if n else np.zeros(0, np.int64)
        if flat.size != int(tfs.sum()):
            raise ValueError("per-doc position counts must equal tfs")
        deltas_p = np.empty(flat.size, dtype=np.int64)
        if flat.size:
            deltas_p[0] = flat[0]
            deltas_p[1:] = flat[1:] - flat[:-1]
            doc_starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
            deltas_p[doc_starts] = flat[doc_starts]  # absolute per doc
        pos_deltas = deltas_p.astype(np.uint64)
        pos_bin = varbyte_encode(pos_deltas)
        # byte offset of each block's first doc's position stream
        vlen = varbyte_lengths(pos_deltas)
        ends = np.cumsum(vlen)
        starts_all = np.concatenate([[0], ends[:-1]])
        doc_value_start = np.concatenate([[0], np.cumsum(tfs)[:-1]])
        block_doc_idx = np.arange(0, n, block_size)
        block_pos_off = starts_all[doc_value_start[block_doc_idx]].astype(np.int64).tolist()
    else:
        pos_bin = b""
        block_pos_off = []
    return {
        "pos_bin": pos_bin,
        "block_pos_off": block_pos_off,
        "n_docs": int(n),
        "first_doc": int(doc_ids[0]),
        "max_tf": int(tfs.max()),
        "seg_bytes": len(docs_bin) + len(tfs_bin) + len(dls_bin),
        "block_last_doc": di[:, -1].astype(np.int64).tolist(),
        "block_doc_off": block_offsets(deltas),
        "block_tf_off": block_offsets(tfs.astype(np.uint64)),
        "block_dl_off": block_offsets(dls.astype(np.uint64)),
        "docs_bin": docs_bin,
        "tfs_bin": tfs_bin,
        "dls_bin": dls_bin,
    }


def decode_segment(row: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_segment` → (doc_ids, tfs, dls)."""
    n = int(row["n_docs"])
    deltas = varbyte_decode(row["docs_bin"], n)
    doc_ids = np.cumsum(deltas.astype(np.int64))
    tfs = varbyte_decode(row["tfs_bin"], n).astype(np.int64)
    dls = varbyte_decode(row["dls_bin"], n).astype(np.int64)
    return doc_ids, tfs, dls


def decode_positions(pos_bin: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Positional sidecar → one ascending position array per doc (the
    tf stream is the per-doc count directory). One flat cumsum with
    per-doc base subtraction instead of a cumsum per doc — the
    per-doc Python loop dominated positional decode on segments with
    many docs (guide §4.2)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if tfs.size == 0:
        return []
    if (tfs < 1).any():
        raise ValueError("tfs must be >= 1 (a posting records an occurrence)")
    total = int(tfs.sum())
    deltas = varbyte_decode(pos_bin, total).astype(np.int64)
    cum = np.cumsum(deltas)
    ends = np.cumsum(tfs)
    starts = ends - tfs
    shift = np.where(starts > 0, cum[np.maximum(starts - 1, 0)], 0)
    flat = cum - np.repeat(shift, tfs)
    return np.split(flat, ends[:-1])
