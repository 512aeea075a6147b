"""Top-k over compressed posting segments, scored in whole numpy vectors.

One pass per (query, dir[, doc range]) group, with no interpreted step
per posting (the columnar, vectorized evaluation argued for in ICDE
2025 "Columnar Formatted Inverted Index" and CIDR 2022 "Accelerating
Python UDFs in Vectorized Query Execution"; no code taken from either):

1. **Blocks.** Each term's salt-ordered segments chain into one block
   directory: block last doc, delta base and posting count. A call
   restricted to ``doc_lo``/``doc_hi`` picks only the blocks whose docs
   can fall in that range; any other call picks every block.
2. **Decode.** The picked blocks of every term — the doc stream of each
   term, the tf and dl streams of the scoring ones — go through ONE
   :func:`varbyte_decode` (values are self-delimiting, so whole-block
   byte ranges concatenate into a valid stream; a segment whose every
   block is picked goes in as its whole stream).
3. **Scoring.** All postings merge into one sorted candidate array, and
   each scoring term adds its contributions into dense per-candidate
   accumulators, term-at-a-time in term-lexicographic order, ``weight``
   times each. Required counts, ``min_match``, excluded docs, ``dead``,
   the doc range and ``after`` are masks, and the top k are kept by
   (score desc, doc_id asc).

No block is skipped on a score bound, and the postings no longer
store Ding & Suel per-block (max_tf, min_dl) bounds: block-max rounds
(bound-ordered doc windows, θ seeded by the first round) cost more
than this single pass on every measured query mix: they skipped 0 of
34 blocks on the one benchmark (2.5k-page) call large enough to try
them, and 1–4 % of blocks at 10k pages, where the 63-query OR, ``and``
and ``bool`` batches took 15–30 % longer than one pass (CHANGES.md).

Exactness: every posting of a picked block is scored, and scores are
summed in the pinned term order with each term added ``weight`` times,
starting from 0.0, so they are bit-equal to the exhaustive pyref sum
(asserted in tests).

A term whose posting list is salted arrives as several (salt) segments
covering disjoint ascending doc_id ranges; its blocks chain across them
(delta chains restart per segment, so a block's base is the previous
block's last doc within the same segment, 0 for a segment's first).
"""

from __future__ import annotations

import numpy as np

from xml_to_es_spark.operators.postings import varbyte_decode

_OPT, _REQ, _EXCL = 0, 1, 2


def _contrib(idf, tf, dl, k1: float, b: float, avgdl: float):
    # idf * saturation, evaluated in pyref's order (bit-equal)
    return idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))


class _Blocks:
    """One entry's block directory: its salt-ordered segments' blocks
    chained into one ascending list. Block i ends at doc ``last[i]``
    and holds ``cnt[i]`` postings, delta-coded from ``base[i]`` (the
    previous block's last doc in the same segment, 0 for a segment's
    first)."""

    __slots__ = ("role", "weight", "idf", "avgdl", "segs", "seg_start",
                 "nb", "last", "base", "cnt")

    def __init__(self, e: dict, role: int, weight: int, avgdl: float,
                 block_size: int):
        self.role, self.weight = role, weight
        self.idf, self.avgdl = float(e["idf"]), avgdl
        self.segs = sorted(e["segments"], key=lambda s: s["salt"])
        last = [np.asarray(s["block_last_doc"], dtype=np.int64) for s in self.segs]
        self.last = last[0] if len(last) == 1 else np.concatenate(last)
        self.nb = self.last.size
        self.base = np.empty(self.nb, dtype=np.int64)
        self.base[1:] = self.last[:-1]
        self.cnt = np.full(self.nb, block_size, dtype=np.int64)
        self.seg_start = [0]
        for seg, bl in zip(self.segs, last):
            at = self.seg_start[-1]
            self.seg_start.append(at + bl.size)
            self.base[at] = 0  # a segment's first delta is absolute
            self.cnt[at + bl.size - 1] = int(seg["n_docs"]) - (bl.size - 1) * block_size


_STREAMS = (
    ("docs_bin", "block_doc_off"),
    ("tfs_bin", "block_tf_off"),
    ("dls_bin", "block_dl_off"),
)


def _decode_blocks(terms: list[_Blocks], picks: list[np.ndarray], k1: float,
                   b: float) -> list[tuple[np.ndarray, np.ndarray | None]]:
    """Decode the picked blocks (ascending flat block indices per term)
    of every term: the doc stream of every term and the tf and dl
    streams of the scoring ones, all in ONE varbyte decode. Returns per
    term (doc_ids, contributions or None)."""
    parts: tuple[list, list, list] = ([], [], [])
    cnt, base, sizes = [], [], []
    for t, p in zip(terms, picks):
        c = t.cnt[p]
        cnt.append(c)
        base.append(t.base[p])
        sizes.append(int(c.sum()))
        if not p.size:
            continue
        streams = _STREAMS if t.weight else _STREAMS[:1]
        cuts = np.searchsorted(p, t.seg_start).tolist()
        for si, seg in enumerate(t.segs):
            local = (p[cuts[si]: cuts[si + 1]] - t.seg_start[si]).tolist()
            if not local:
                continue
            whole = len(local) == t.seg_start[si + 1] - t.seg_start[si]
            for (key, off_key), out in zip(streams, parts):
                data = seg[key]
                if whole:
                    out.append(data)
                    continue
                off = list(seg[off_key]) + [len(data)]
                out += [data[off[i]: off[i + 1]] for i in local]
    cnt = np.concatenate(cnt)
    n_docs = int(cnt.sum())
    n_scored = sum(n for t, n in zip(terms, sizes) if t.weight)
    vals = varbyte_decode(
        b"".join(parts[0] + parts[1] + parts[2]), n_docs + 2 * n_scored
    )
    # per-block delta chains: a block's docs are its base plus the
    # running sum of its deltas (int64 arithmetic wraps, and every
    # result fits, so ids anywhere in the int64 domain come out exact)
    cs = np.cumsum(vals[:n_docs].astype(np.int64))
    ends = np.cumsum(cnt)
    prior = np.zeros(cnt.size, np.int64)
    prior[1:] = cs[ends[:-1] - 1]
    docs = cs + np.repeat(np.concatenate(base) - prior, cnt)
    scored = [(t, n) for t, n in zip(terms, sizes) if t.weight]
    x = _contrib(
        np.repeat([t.idf for t, _n in scored], [n for _t, n in scored]),
        vals[n_docs: n_docs + n_scored].astype(np.float64),
        vals[n_docs + n_scored:].astype(np.float64),
        k1, b,
        np.repeat([t.avgdl for t, _n in scored], [n for _t, n in scored]),
    )
    out, at, at_s = [], 0, 0
    for t, n in zip(terms, sizes):
        out.append((docs[at: at + n], x[at_s: at_s + n] if t.weight else None))
        at += n
        at_s += n if t.weight else 0
    return out


def wand_topk(
    term_entries: list[dict],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int = 128,
    doc_lo: int | None = None,
    doc_hi: int | None = None,
    dead: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    min_match: int = 0,
) -> list[tuple[int, float]]:
    """term_entries: [{term, idf, segments: [segment rows]}]. Returns
    [(doc_id, score)] ranked by (score desc, doc_id asc); scores are
    summed term-lexicographically (the pinned order). A segment row's
    block columns may be Python lists or numpy arrays.

    Roles ride on the entries (one entry per term): ``required``
    (every hit holds the term), ``excluded`` (no hit holds it) and
    ``weight`` (times its contribution is added; default 1, 0 for a
    non-scoring role). Entries that are neither required nor excluded
    are optional: a hit holds at least ``min_match`` of them, and at
    least one when no entry is required. A required entry without
    segments, or fewer optional entries with segments than
    ``min_match``, matches nothing. Plain entries give the OR match.
    An entry's ``avgdl`` (a fielded term scores with its FIELD's
    length stats) overrides the argument.

    ``doc_lo``/``doc_hi`` (half-open) restrict evaluation to a doc_id
    RANGE: the distributed path runs one local top-k per (query, range)
    — a doc's contributions all live in its range, so per-range top-k
    lists merge into the exact global top-k with no re-summation. Only
    the blocks that can hold docs of the range are decoded.

    ``dead`` (sorted int64 array) lists tombstoned doc_ids whose
    stored version here is superseded by a delta index: they are
    masked out of the candidates.

    ``after`` = (score, doc_id): ES search_after — only hits STRICTLY
    after that sort key in (score desc, doc_id asc) order are kept.
    Exact float equality is safe here: this path's scores are the
    pinned deterministic sum, bit-stable across jobs."""
    entries = sorted(term_entries, key=lambda e: e["term"])
    if any(e.get("required") and not e["segments"] for e in entries):
        return []
    terms: list[_Blocks] = []
    for e in entries:
        if not e["segments"]:
            continue
        role = _REQ if e.get("required") else _EXCL if e.get("excluded") else _OPT
        weight = 0 if role == _EXCL else int(e.get("weight", 1))
        terms.append(_Blocks(e, role, weight, e.get("avgdl", avgdl), block_size))
    n_req = sum(t.role == _REQ for t in terms)
    n_opt = sum(t.role == _OPT for t in terms)
    need = min_match if n_req else max(min_match, 1)
    if k <= 0 or n_opt < need:
        return []

    picks = []
    for t in terms:
        pick = np.ones(t.nb, dtype=bool)
        if doc_lo is not None:
            pick &= t.last >= doc_lo
        if doc_hi is not None:
            # block i's first doc is past block i-1's last
            pick[1:] &= t.last[:-1] < doc_hi - 1
        picks.append(np.flatnonzero(pick))
    if not any(p.size for t, p in zip(terms, picks) if t.role != _EXCL):
        return []
    sel = _decode_blocks(terms, picks, k1, b)

    cand, inv = np.unique(np.concatenate([d for d, _x in sel]), return_inverse=True)
    ok = np.ones(cand.size, dtype=bool)
    req_n = np.zeros(cand.size, dtype=np.int64) if n_req else None
    # with no required term and need 1, every candidate left after the
    # excluded mask holds an optional term: no count needed
    opt_n = np.zeros(cand.size, dtype=np.int64) if need > 1 or (n_req and need) else None
    acc = np.zeros(cand.size)
    at = 0
    for t, (d, x) in zip(terms, sel):
        ix = inv[at: at + d.size]
        at += d.size
        if t.role == _EXCL:
            ok[ix] = False
        elif t.role == _REQ:
            req_n[ix] += 1
        elif opt_n is not None:
            opt_n[ix] += 1
        for _ in range(t.weight):  # e.g. a must+should token adds twice
            acc[ix] += x
    if req_n is not None:
        ok &= req_n == n_req
    if opt_n is not None:
        ok &= opt_n >= need
    if doc_lo is not None:
        ok &= cand >= doc_lo
    if doc_hi is not None:
        ok &= cand < doc_hi
    if dead is not None and dead.size:
        ok &= dead[np.minimum(np.searchsorted(dead, cand), dead.size - 1)] != cand
    if after is not None:
        ok &= (acc < after[0]) | ((acc == after[0]) & (cand > after[1]))
    d, s = cand[ok], acc[ok]
    if s.size > k:
        # only scores >= the k-th best can rank; ties stay in
        keep = s >= np.partition(s, s.size - k)[s.size - k]
        d, s = d[keep], s[keep]
    best = np.lexsort((d, -s))[:k]
    return list(zip(d[best].tolist(), s[best].tolist()))
