"""WAND top-k kernel: rank-identical to exhaustive evaluation on
randomized corpora (property-style, no Spark needed)."""

import numpy as np
import pytest

from xml_to_es_spark.config import BM25Config
from xml_to_es_spark.operators.postings import encode_segment
from xml_to_es_spark.operators.wand import wand_topk
from xml_to_es_spark.pyref import idf as ref_idf
from xml_to_es_spark.pyref import saturation


def _make_corpus(rng, n_docs=600, n_terms=12, block_size=32, salted=False):
    """Random postings; returns (term_entries, brute_scores dict)."""
    avgdl = 0.0
    dls = rng.randint(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    cfg = BM25Config()
    entries, truth = [], {}
    for t in range(n_terms):
        df = rng.randint(2, n_docs)
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.randint(1, 20, size=df).astype(np.int64)
        term = f"t{t:03d}"
        w = ref_idf(n_docs, df)
        segs = []
        if salted and df > 50:
            bounds = [0, n_docs // 3, 2 * n_docs // 3, n_docs + 1]
            for s in range(3):
                m = (docs >= bounds[s]) & (docs < bounds[s + 1])
                if m.any():
                    seg = encode_segment(docs[m], tfs[m], dls[docs[m]], block_size)
                    seg["salt"] = s
                    segs.append(seg)
        else:
            seg = encode_segment(docs, tfs, dls[docs], block_size)
            seg["salt"] = 0
            segs.append(seg)
        entries.append({"term": term, "idf": w, "segments": segs})
    # brute force, term-major lexicographic order (terms already sorted),
    # each contribution idf * saturation exactly as pyref evaluates it
    for e in entries:
        w = e["idf"]
        for seg in e["segments"]:
            from xml_to_es_spark.operators.postings import decode_segment

            d, tf, dl = decode_segment(seg)
            contrib = w * saturation(tf, dl, avgdl, cfg)
            for doc, c in zip(d, contrib):
                truth[int(doc)] = truth.get(int(doc), 0.0) + float(c)
    return entries, truth, avgdl


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("salted", [False, True])
def test_wand_matches_bruteforce(seed, salted):
    rng = np.random.RandomState(seed)
    entries, truth, avgdl = _make_corpus(rng, salted=salted)
    cfg = BM25Config()
    for k in (1, 5, 10, 50):
        for q_size in (1, 2, 4):
            qterms = [entries[i] for i in rng.choice(len(entries), q_size, replace=False)]
            t2 = {}
            for e in sorted(qterms, key=lambda e: e["term"]):
                w = e["idf"]
                from xml_to_es_spark.operators.postings import decode_segment

                for seg in e["segments"]:
                    d, tf, dl = decode_segment(seg)
                    contrib = w * saturation(tf, dl, avgdl, cfg)
                    for doc, c in zip(d, contrib):
                        t2[int(doc)] = t2.get(int(doc), 0.0) + float(c)
            expect = sorted(t2.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            got = wand_topk(qterms, k, cfg.k1, cfg.b, avgdl, block_size=32)
            assert [d for d, _ in got] == [d for d, _ in expect], (seed, k, q_size)
            np.testing.assert_allclose(
                [s for _, s in got], [s for _, s in expect], atol=1e-9
            )


@pytest.mark.parametrize("seed", [0, 4])
def test_wand_range_partition_merges_to_global(seed):
    """The distributed contract: per-range local top-k lists over a
    doc_id partition merge into exactly the global top-k (ranges
    partition docs, so per-doc scores are complete per range)."""
    rng = np.random.RandomState(seed)
    entries, truth, avgdl = _make_corpus(rng, salted=True)
    cfg = BM25Config()
    k = 10
    q = [e for e in entries if e["term"] in ("t000", "t003", "t007")]
    t2 = {}
    from xml_to_es_spark.operators.postings import decode_segment

    for e in sorted(q, key=lambda e: e["term"]):
        for seg in e["segments"]:
            d, tf, dl = decode_segment(seg)
            contrib = e["idf"] * saturation(tf, dl, avgdl, cfg)
            for doc, c in zip(d, contrib):
                t2[int(doc)] = t2.get(int(doc), 0.0) + float(c)
    expect = sorted(t2.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    # 4 half-open ranges over [0, 600)
    edges = [0, 150, 300, 450, 600]
    partials = []
    for lo, hi in zip(edges, edges[1:]):
        partials += wand_topk(
            q, k, cfg.k1, cfg.b, avgdl, block_size=32, doc_lo=lo, doc_hi=hi
        )
    merged = sorted(partials, key=lambda t: (-t[1], t[0]))[:k]
    assert [d for d, _ in merged] == [d for d, _ in expect]
    # scores are bit-equal: same per-doc summation, just located in one range
    assert [s for _, s in merged] == [s for _, s in expect]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=20),
    n_dead=st.integers(min_value=0, max_value=40),
    n_ranges=st.integers(min_value=1, max_value=5),
)
def test_wand_property_ranges_and_tombstones(seed, k, n_dead, n_ranges):
    """Property: for any corpus, k, tombstone set, and doc-range
    split, the merged per-range WAND top-k with dead filtering equals
    brute force over the live docs (rank and score)."""
    rng = np.random.RandomState(seed)
    entries, _, avgdl = _make_corpus(rng, n_docs=200, n_terms=6, salted=seed % 2 == 0)
    cfg = BM25Config()
    q = [entries[i] for i in rng.choice(len(entries), 3, replace=False)]
    dead = np.unique(rng.choice(200, size=n_dead)).astype(np.int64) if n_dead else None
    from xml_to_es_spark.operators.postings import decode_segment

    truth = {}
    for e in sorted(q, key=lambda e: e["term"]):
        for seg in e["segments"]:
            d, tf, dl = decode_segment(seg)
            contrib = e["idf"] * saturation(tf, dl, avgdl, cfg)
            for doc, c in zip(d, contrib):
                if dead is None or doc not in set(dead.tolist()):
                    truth[int(doc)] = truth.get(int(doc), 0.0) + float(c)
    expect = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    edges = [round(200 * r / n_ranges) for r in range(n_ranges)] + [201]
    partials = []
    for lo, hi in zip(edges, edges[1:]):
        partials += wand_topk(
            q, k, cfg.k1, cfg.b, avgdl, block_size=32,
            doc_lo=lo, doc_hi=hi, dead=dead,
        )
    merged = sorted(partials, key=lambda t: (-t[1], t[0]))[:k]
    assert [d for d, _ in merged] == [d for d, _ in expect]
    assert [s for _, s in merged] == [s for _, s in expect]


def test_wand_empty_and_single():
    assert wand_topk([], 10, 1.2, 0.75, 100.0) == []
    seg = encode_segment(
        np.array([5], dtype=np.int64),
        np.array([3], dtype=np.int64),
        np.array([50], dtype=np.int64),
        16,
    )
    seg["salt"] = 0
    got = wand_topk(
        [{"term": "x", "idf": 1.5, "segments": [seg]}], 10, 1.2, 0.75, 100.0, 16
    )
    assert len(got) == 1 and got[0][0] == 5


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=15),
    min_match=st.integers(min_value=0, max_value=4),
    n_dead=st.integers(min_value=0, max_value=30),
    use_after=st.booleans(),
    n_ranges=st.integers(min_value=1, max_value=3),
    no_required=st.booleans(),
)
def test_wand_roles_property(
    seed, k, min_match, n_dead, use_after, n_ranges, no_required
):
    """Property: required / excluded / weighted / optional cursors with
    a min_match count, plus tombstones, a search_after key and a
    doc-range split, give exactly the brute-force top-k (rank and
    bit-equal score: the same term-lexicographic sum, each term added
    ``weight`` times)."""
    rng = np.random.RandomState(seed)
    entries, _, avgdl = _make_corpus(
        rng, n_docs=200, n_terms=7, salted=seed % 2 == 0
    )
    cfg = BM25Config()
    # role per term: optional, required scored, filter (required,
    # weight 0), must+should (required, weight 2), excluded
    kinds = (["opt", "opt", "excl"] if no_required
             else ["opt", "req", "filter", "dual", "excl"])
    q = []
    for i in rng.choice(len(entries), rng.randint(1, 6), replace=False):
        e = dict(entries[i])
        kind = kinds[rng.randint(len(kinds))]
        e.update(
            required=kind in ("req", "filter", "dual"),
            excluded=kind == "excl",
            weight={"filter": 0, "dual": 2, "excl": 0}.get(kind, 1),
        )
        q.append(e)
    dead = (
        np.unique(rng.choice(200, size=n_dead)).astype(np.int64)
        if n_dead else None
    )
    from xml_to_es_spark.operators.postings import decode_segment

    holds: dict[str, dict[int, float]] = {}
    for e in q:
        holds[e["term"]] = {}
        for seg in e["segments"]:
            d, tf, dl = decode_segment(seg)
            contrib = e["idf"] * saturation(tf, dl, avgdl, cfg)
            holds[e["term"]].update(zip(d.tolist(), contrib.tolist()))
    has_req = any(e["required"] for e in q)
    need = min_match if has_req else max(min_match, 1)
    truth = {}
    for doc in range(201):
        if dead is not None and doc in set(dead.tolist()):
            continue
        if any(e["required"] and doc not in holds[e["term"]] for e in q):
            continue
        if any(e["excluded"] and doc in holds[e["term"]] for e in q):
            continue
        n_opt = sum(
            doc in holds[e["term"]]
            for e in q if not (e["required"] or e["excluded"])
        )
        if n_opt < need or not (has_req or n_opt):
            continue
        s = 0.0
        for e in sorted(q, key=lambda e: e["term"]):
            if doc in holds[e["term"]]:
                for _ in range(e["weight"]):
                    s += holds[e["term"]][doc]
        truth[doc] = s
    ranked = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))
    after = None
    if use_after and len(ranked) > 2:
        d0, s0 = ranked[len(ranked) // 3]
        after = (s0, d0)
        ranked = ranked[len(ranked) // 3 + 1:]
    expect = ranked[:k]
    edges = [round(200 * r / n_ranges) for r in range(n_ranges)] + [201]
    partials = []
    for lo, hi in zip(edges, edges[1:]):
        partials += wand_topk(
            q, k, cfg.k1, cfg.b, avgdl, block_size=32, doc_lo=lo, doc_hi=hi,
            dead=dead, after=after, min_match=min_match,
        )
    merged = sorted(partials, key=lambda t: (-t[1], t[0]))[:k]
    assert merged == expect


def test_wand_required_term_without_segments_matches_nothing():
    """A required term with no postings (absent from the corpus or from
    this dir) empties the page instead of being dropped."""
    seg = encode_segment(
        np.array([5, 9], dtype=np.int64),
        np.array([3, 1], dtype=np.int64),
        np.array([50, 40], dtype=np.int64),
        16,
    )
    seg["salt"] = 0
    x = {"term": "x", "idf": 1.5, "segments": [seg]}
    assert len(wand_topk([x], 10, 1.2, 0.75, 100.0, 16)) == 2
    absent = {"term": "y", "idf": 0.0, "segments": [], "required": True}
    assert wand_topk([x, absent], 10, 1.2, 0.75, 100.0, 16) == []
    # two optional terms needed, one has no postings
    assert wand_topk([x, {"term": "y", "idf": 0.0, "segments": []}], 10,
                     1.2, 0.75, 100.0, 16, min_match=2) == []


def _brute_force(entries, avgdl, k):
    """Exhaustive OR top-k, summed term-lexicographically from 0.0."""
    from xml_to_es_spark.operators.postings import decode_segment

    cfg = BM25Config()
    truth: dict[int, float] = {}
    for e in sorted(entries, key=lambda e: e["term"]):
        for seg in e["segments"]:
            d, tf, dl = decode_segment(seg)
            contrib = e["idf"] * saturation(tf, dl, avgdl, cfg)
            for doc, c in zip(d.tolist(), contrib.tolist()):
                truth[doc] = truth.get(doc, 0.0) + c
    return sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.mark.parametrize("salted", [False, True])
def test_doc_range_decodes_only_its_blocks(monkeypatch, salted):
    """A doc-range call (one task of the distributed path) decodes only
    the blocks that can hold docs of its range: a long term over 625
    blocks, split into four ranges that each cut through a block,
    decodes about a quarter of the blocks per range, and the ranges
    still merge into exactly the brute-force answer."""
    import xml_to_es_spark.operators.wand as wand

    rng = np.random.RandomState(11)
    n_docs, bs = 40_000, 32
    dls = rng.randint(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    common = np.arange(0, n_docs, 2, dtype=np.int64)  # 625 blocks
    rare = np.sort(rng.choice(n_docs, size=12, replace=False)).astype(np.int64)
    entries = []
    for term, docs, tf_hi in (("common", common, 4), ("rare", rare, 6)):
        tfs = rng.randint(1, tf_hi, size=docs.size)
        cuts = [0, n_docs // 2, n_docs] if salted else [0, n_docs]
        segs = []
        for salt, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            m = (docs >= lo) & (docs < hi)
            if m.any():
                seg = encode_segment(docs[m], tfs[m], dls[docs[m]], bs)
                seg["salt"] = salt
                segs.append(seg)
        entries.append({"term": term, "idf": ref_idf(n_docs, docs.size), "segments": segs})
    n_blocks = sum(len(s["block_last_doc"]) for e in entries for s in e["segments"])
    decoded = []
    orig = wand._decode_blocks

    def counting(terms, picks, *a):
        decoded.append(sum(p.size for p in picks))
        return orig(terms, picks, *a)

    monkeypatch.setattr(wand, "_decode_blocks", counting)
    cfg = BM25Config()
    edges = [0, 9_999, 20_001, 30_000, n_docs]
    for k in (1, 10):
        decoded.clear()
        partials = []
        for lo, hi in zip(edges, edges[1:]):
            partials += wand.wand_topk(entries, k, cfg.k1, cfg.b, avgdl, bs,
                                       doc_lo=lo, doc_hi=hi)
        merged = sorted(partials, key=lambda t: (-t[1], t[0]))[:k]
        assert merged == _brute_force(entries, avgdl, k)
        assert len(decoded) == 4
        assert all(0 < n < n_blocks / 4 + 4 for n in decoded), (decoded, n_blocks)
        # each range cuts through at most a block of a term at either end
        assert sum(decoded) <= n_blocks + 3 * len(entries) * 2
        decoded.clear()
        assert wand.wand_topk(entries, k, cfg.k1, cfg.b, avgdl, bs) == merged
        assert decoded == [n_blocks]


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=15),
    min_match=st.integers(min_value=0, max_value=3),
    use_after=st.booleans(),
)
def test_block_columns_as_lists_or_arrays(seed, k, min_match, use_after):
    """The kernel returns identical rows, bit for bit, whether a
    segment's block columns are Python lists (rows read with pyarrow's
    ``to_pylist``) or numpy arrays (rows of a Spark pandas group)."""
    rng = np.random.RandomState(seed)
    entries, _, avgdl = _make_corpus(rng, n_docs=300, n_terms=6, salted=seed % 2 == 0)
    cfg = BM25Config()
    q = []
    for i in rng.choice(len(entries), rng.randint(1, 5), replace=False):
        e = dict(entries[i])
        kind = rng.randint(4)
        e.update(required=kind == 1, excluded=kind == 2, weight={2: 0, 3: 2}.get(kind, 1))
        q.append(e)
    as_arrays = [
        {**e, "segments": [
            {c: np.asarray(v) if isinstance(v, list) else v for c, v in s.items()}
            for s in e["segments"]
        ]}
        for e in q
    ]
    full = wand_topk(q, 40, cfg.k1, cfg.b, avgdl, 32, min_match=min_match)
    after = None
    if use_after and len(full) > 2:
        after = (full[len(full) // 2][1], full[len(full) // 2][0])
    lists = wand_topk(q, k, cfg.k1, cfg.b, avgdl, 32, after=after, min_match=min_match)
    arrays = wand_topk(as_arrays, k, cfg.k1, cfg.b, avgdl, 32, after=after, min_match=min_match)
    assert lists == arrays
    assert all(type(d) is int and type(s) is float for d, s in arrays)
