"""Varbyte/delta codec unit + property tests (no Spark needed)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xml_to_es_spark.operators.postings import (
    decode_segment,
    encode_segment,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(vals), len(vals)) == vals).all()


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varbyte_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(vals), len(vals))
    assert (out == vals).all()


def test_segment_roundtrip():
    rng = np.random.RandomState(7)
    doc_ids = np.cumsum(rng.randint(1, 1000, size=1000)).astype(np.int64)
    tfs = rng.randint(1, 50, size=1000).astype(np.int64)
    dls = rng.randint(10, 5000, size=1000).astype(np.int64)
    seg = encode_segment(doc_ids, tfs, dls, block_size=128)
    d, t, l = decode_segment(seg)
    assert (d == doc_ids).all() and (t == tfs).all() and (l == dls).all()
    assert seg["n_docs"] == 1000
    assert len(seg["block_last_doc"]) == 8  # ceil(1000/128)
    assert seg["block_last_doc"][-1] == doc_ids[-1]
    # compression actually compresses vs 8-byte ints
    assert len(seg["docs_bin"]) < 8 * 1000


def test_positions_sidecar_roundtrip():
    from xml_to_es_spark.operators.postings import decode_positions

    rng = np.random.RandomState(11)
    n = 300
    doc_ids = np.cumsum(rng.randint(1, 50, size=n)).astype(np.int64)
    tfs = rng.randint(1, 8, size=n).astype(np.int64)
    dls = rng.randint(10, 500, size=n).astype(np.int64)
    positions = [
        np.sort(rng.choice(int(dls[i]), size=int(tfs[i]), replace=False)).astype(np.int64)
        for i in range(n)
    ]
    seg = encode_segment(doc_ids, tfs, dls, block_size=32, positions=positions)
    assert len(seg["pos_bin"]) > 0
    assert len(seg["block_pos_off"]) == len(seg["block_last_doc"])
    back = decode_positions(seg["pos_bin"], tfs)
    assert len(back) == n
    for i in range(n):
        assert (back[i] == positions[i]).all()
    # without positions the sidecar stays empty
    seg2 = encode_segment(doc_ids, tfs, dls, block_size=32)
    assert seg2["pos_bin"] == b"" and seg2["block_pos_off"] == []
    # count mismatch rejected
    with pytest.raises(ValueError):
        encode_segment(doc_ids, tfs, dls, 32, positions=positions[:-1])


def test_segment_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_segment(
            np.array([5, 3], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            np.array([10, 10], dtype=np.int64),
        )


def test_segment_rejects_zero_tf():
    """A posting with tf=0 has no occurrence: a trailing one used to
    index past the position stream on encode, so it is rejected up
    front, with or without positions."""
    docs = np.array([1, 4, 9], dtype=np.int64)
    dls = np.array([10, 10, 10], dtype=np.int64)
    tfs = np.array([2, 1, 0], dtype=np.int64)
    with pytest.raises(ValueError, match="tfs must be >= 1"):
        encode_segment(docs, tfs, dls)
    with pytest.raises(ValueError, match="tfs must be >= 1"):
        encode_segment(
            docs, tfs, dls,
            positions=[np.array([0, 3]), np.array([5]), np.array([], np.int64)],
        )


def test_decode_positions_rejects_zero_tf():
    from xml_to_es_spark.operators.postings import decode_positions

    with pytest.raises(ValueError, match="tfs must be >= 1"):
        decode_positions(b"", np.array([0, 0], dtype=np.int64))
    seg = encode_segment(
        np.array([1, 4], dtype=np.int64), np.array([1, 2], dtype=np.int64),
        np.array([10, 10], dtype=np.int64),
        positions=[np.array([2]), np.array([0, 7])],
    )
    with pytest.raises(ValueError, match="tfs must be >= 1"):
        decode_positions(seg["pos_bin"], np.array([1, 0, 2], dtype=np.int64))
    back = decode_positions(seg["pos_bin"], np.array([1, 2], dtype=np.int64))
    assert [list(p) for p in back] == [[2], [0, 7]]
