"""Block-max WAND top-k over compressed posting segments.

Document-at-a-time disjunctive top-k (Broder et al. WAND; Ding & Suel
block-max refinement — published algorithms) over our delta+varbyte
segments: per-term cursors advance through lazily-decoded blocks;
the pivot test uses global term upper bounds, the block-max test uses
per-block (max_tf, min_dl) bounds, and blocks that cannot beat the
running k-th-best threshold are skipped without decompressing a byte.

Exactness: upper bounds are evaluated with the same float expression
as true contributions at the dominating inputs, plus an epsilon slack
applied on the CONSERVATIVE side of every skip test (a candidate is
considered when its bound exceeds threshold - eps, and a block is
skipped only when its bound is <= threshold - eps), so near-threshold
docs — including exact-score ties that win on the doc_id asc
tie-break — are scored rather than pruned. The returned top-k (scores
summed in the pinned term-lexicographic order) is rank-identical to
exhaustive evaluation — asserted in tests against pyref.

A term whose posting list is salted arrives as multiple (salt)
segments covering disjoint ascending doc_id ranges; a cursor simply
chains their blocks (delta chains restart per segment, so block
bases come from the previous block's last doc within the same
segment only).

Cursor roles (Lucene's WANDScorer with ``minShouldMatch`` plus a
required-clause conjunction): a REQUIRED cursor (ES must/filter,
``operator: and``) must hold every hit, so candidates come from a
leapfrog over the required cursors and the block-max test sums their
current blocks' bounds; an EXCLUDED cursor (must_not) drops a
candidate before it is scored; OPTIONAL cursors add their score and
count towards ``min_match`` (ES minimum_should_match), and with no
required cursor the WAND pivot is never placed before the
``min_match``-th cursor.
"""

from __future__ import annotations

import heapq

import numpy as np

from xml_to_es_spark.operators.postings import decode_block

_EPS = 1e-12
_DONE = np.iinfo(np.int64).max


class TermCursor:
    """Doc-at-a-time cursor over one term's salt-ordered segments."""

    def __init__(self, term: str, idf: float, segments: list[dict], k1: float, b: float, avgdl: float, block_size: int = 128, weight: int = 1):
        self.term = term
        self.idf = float(idf)
        # how many times a hit adds this term's contribution (0 for a
        # filter/must_not cursor, 2 for a must+should token)
        self.weight = weight
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.block_size = block_size
        segments = sorted(segments, key=lambda s: s["salt"])
        self.segs = segments
        # flattened block directory: (seg_idx, block_idx, last_doc, ub, base_doc)
        last, maxtf, mindl, segix, blkix, bases = [], [], [], [], [], []
        for si, seg in enumerate(segments):
            bl = np.asarray(seg["block_last_doc"], dtype=np.int64)
            bt = np.asarray(seg["block_max_tf"], dtype=np.float64)
            bd = np.asarray(seg["block_min_dl"], dtype=np.float64)
            nb = len(bl)
            last.append(bl)
            maxtf.append(bt)
            mindl.append(bd)
            segix.append(np.full(nb, si))
            blkix.append(np.arange(nb))
            base = np.empty(nb, dtype=np.int64)
            base[0] = 0  # first delta of a segment is absolute
            base[1:] = bl[:-1]
            bases.append(base)
        self.blk_last = np.concatenate(last)
        self.blk_seg = np.concatenate(segix)
        self.blk_idx = np.concatenate(blkix)
        self.blk_base = np.concatenate(bases)
        bt = np.concatenate(maxtf)
        bd = np.concatenate(mindl)
        self.blk_ub = self._contrib(bt, bd) * weight
        self.max_ub = float(self.blk_ub.max())
        self.n_blocks = len(self.blk_last)
        self.cur_block = -1
        self.docs: np.ndarray | None = None
        self.pos = 0
        self.cur_doc = -1
        self._load_block(0)

    def _contrib(self, tf, dl):
        # idf * saturation, evaluated in pyref's order (bit-equal)
        return self.idf * (tf * (self.k1 + 1.0) / (
            tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)
        ))

    def _load_block(self, bi: int):
        if bi >= self.n_blocks:
            self.cur_doc = _DONE
            return
        self.cur_block = bi
        seg = self.segs[self.blk_seg[bi]]
        blk = int(self.blk_idx[bi])
        deltas = decode_block(
            seg["docs_bin"], seg["block_doc_off"], blk, int(seg["n_docs"]), self.block_size
        ).astype(np.int64)
        self.docs = self.blk_base[bi] + np.cumsum(deltas)
        self._tfs = None  # decoded on demand when a doc is scored
        self.pos = 0
        self.cur_doc = int(self.docs[0])

    def _scores(self) -> np.ndarray:
        if self._tfs is None:
            bi = self.cur_block
            seg = self.segs[self.blk_seg[bi]]
            blk = int(self.blk_idx[bi])
            n = int(seg["n_docs"])
            tfs = decode_block(seg["tfs_bin"], seg["block_tf_off"], blk, n, self.block_size).astype(np.float64)
            dls = decode_block(seg["dls_bin"], seg["block_dl_off"], blk, n, self.block_size).astype(np.float64)
            self._tfs = self._contrib(tfs, dls)
        return self._tfs

    def score_current(self) -> float:
        return float(self._scores()[self.pos])

    def block_ub(self) -> float:
        return float(self.blk_ub[self.cur_block]) if self.cur_block < self.n_blocks else 0.0

    def block_last(self) -> int:
        return int(self.blk_last[self.cur_block]) if self.cur_block < self.n_blocks else _DONE

    def advance_to(self, target: int):
        """Move to the first doc >= target (block skip + in-block
        binary search; skipped blocks are never decoded)."""
        if self.cur_doc >= target:
            return
        if target > self.blk_last[self.cur_block]:
            bi = int(np.searchsorted(self.blk_last, target))
            self._load_block(bi)
            if self.cur_doc == _DONE:
                return
        self.pos = int(np.searchsorted(self.docs, target))
        if self.pos >= len(self.docs):
            self._load_block(self.cur_block + 1)
            if self.cur_doc != _DONE:
                self.advance_to(target)
        else:
            self.cur_doc = int(self.docs[self.pos])

    def next_doc(self):
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load_block(self.cur_block + 1)
        else:
            self.cur_doc = int(self.docs[self.pos])


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
    summed term-lexicographically (the pinned order).

    Roles ride on the entries (one entry per term): ``required``
    (every hit holds the term), ``excluded`` (no hit holds it) and
    ``weight`` (times its contribution is added; default 1, 0 for a
    non-scoring role). Entries that are neither required nor excluded
    are optional: a hit holds at least ``min_match`` of them, and at
    least one when no entry is required. A required entry without
    segments, or fewer optional entries with segments than
    ``min_match``, matches nothing. Plain entries give the OR match.

    ``doc_lo``/``doc_hi`` (half-open) restrict evaluation to a doc_id
    RANGE: the distributed path runs one local WAND per (query, range)
    — a doc's contributions all live in its range, so per-range top-k
    lists merge into the exact global top-k with no re-summation.

    ``dead`` (sorted int64 array) lists tombstoned doc_ids whose
    stored version here is superseded by a delta index: they are
    advanced past without scoring (block bounds stay valid upper
    bounds, so pruning is unaffected).

    ``after`` = (score, doc_id): ES search_after — only hits STRICTLY
    after that sort key in (score desc, doc_id asc) order enter the
    heap. Exact float equality is safe here: this path's scores are
    the pinned deterministic sum, bit-stable across jobs. Deep pages
    keep a k-sized heap (never from_+k) and the heap threshold still
    rises normally, so cursor paging gets FASTER with depth, not
    slower."""
    entries = sorted(term_entries, key=lambda e: e["term"])
    if any(e.get("required") and not e["segments"] for e in entries):
        return []
    # term-sorted, so every score sum below runs in the pinned order
    cursors = []
    req: list[TermCursor] = []
    excl: list[TermCursor] = []
    opt: list[TermCursor] = []
    for e in entries:
        if not e["segments"]:
            continue
        c = TermCursor(
            e["term"], e["idf"], e["segments"], k1, b,
            # per-entry avgdl (a fielded term scores with its FIELD's
            # length stats); the argument is the single-field fallback
            e.get("avgdl", avgdl), block_size,
            weight=0 if e.get("excluded") else int(e.get("weight", 1)),
        )
        cursors.append(c)
        if e.get("required"):
            req.append(c)
        elif e.get("excluded"):
            excl.append(c)
        else:
            opt.append(c)
    need = min_match if req else max(min_match, 1)
    if k <= 0 or len(opt) < need:
        return []
    scoring = [c for c in cursors if c.weight]
    if doc_lo is not None:
        for c in cursors:
            c.advance_to(doc_lo)
    hi = doc_hi if doc_hi is not None else _DONE
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap, size ≤ k

    def threshold() -> float:
        return heap[0][0] if len(heap) == k else -np.inf

    def consider(doc: int) -> None:
        """Score ``doc`` and offer it to the heap unless it is dead,
        excluded or short of ``min_match`` optional cursors."""
        if dead is not None and dead.size:
            j = int(np.searchsorted(dead, doc))
            if j < dead.size and dead[j] == doc:
                return  # superseded version: skip without scoring
        for c in excl:
            c.advance_to(doc)
            if c.cur_doc == doc:
                return
        if req:
            n_opt = 0
            for c in opt:
                c.advance_to(doc)
                n_opt += c.cur_doc == doc
            if n_opt < need:
                return
        score = 0.0
        for c in scoring:
            if c.cur_doc == doc:
                s = c.score_current()
                score += s
                if c.weight > 1:  # e.g. a must+should token adds twice
                    for _ in range(c.weight - 1):
                        score += s
        served = after is not None and (
            score > after[0] or (score == after[0] and doc <= after[1])
        )
        if served:
            return
        item = (score, -doc)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    if req:
        # leapfrog over the required cursors: a candidate is a doc all
        # of them sit on; optional cursors only add to its score, so
        # they are bounded by their global maxima
        opt_ub = sum(c.max_ub for c in opt)
        total_ub = sum(c.max_ub for c in req) + opt_ub
        while True:
            doc = max(c.cur_doc for c in req)
            if doc >= hi:
                break
            if len(heap) == k and (
                total_ub <= threshold() - _EPS or total_ub == 0.0
            ):
                # nothing left can beat the k-th best (an all-zero
                # bound ties at best, and ties lose on the larger doc)
                break
            for c in req:
                c.advance_to(doc)
            if any(c.cur_doc != doc for c in req):
                continue
            if sum(c.block_ub() for c in req) + opt_ub <= threshold() - _EPS:
                target = min(c.block_last() for c in req) + 1
                for c in req:
                    c.advance_to(target)
                continue
            consider(doc)
            for c in req:
                c.next_doc()
    else:
        while True:
            live = [c for c in opt if c.cur_doc != _DONE and c.cur_doc < hi]
            if len(live) < need:
                break
            live.sort(key=lambda c: c.cur_doc)
            # pivot: first index where cumulative max-ub can beat the
            # threshold, never before the need-th cursor (a doc before
            # it sits on fewer than ``need`` lists)
            acc, pivot = 0.0, -1
            for i, c in enumerate(live):
                acc += c.max_ub
                if i + 1 >= need and acc > threshold() - _EPS:
                    pivot = i
                    break
            if pivot < 0:
                break
            pivot_doc = live[pivot].cur_doc
            # extend the pivot over lists parked at the same doc — they
            # contribute to both the block-max bound and the score
            while pivot + 1 < len(live) and live[pivot + 1].cur_doc == pivot_doc:
                pivot += 1
            if live[0].cur_doc == pivot_doc:
                # block-max check across the lists at/ahead of the pivot
                bub = sum(c.block_ub() for c in live[: pivot + 1])
                if bub <= threshold() - _EPS:
                    # skip past the nearest block boundary, capped at the
                    # next list's current doc (pivot set changes there)
                    target = min(c.block_last() for c in live[: pivot + 1]) + 1
                    if pivot + 1 < len(live):
                        target = min(target, live[pivot + 1].cur_doc)
                    target = max(target, pivot_doc + 1)
                    for c in live[: pivot + 1]:
                        c.advance_to(target)
                    continue
                consider(pivot_doc)
                for c in live[: pivot + 1]:
                    c.next_doc()
            else:
                for c in live[:pivot]:
                    c.advance_to(pivot_doc)
    out = sorted(heap, key=lambda t: (-t[0], -t[1]))
    return [(-d, s) for s, d in out]
