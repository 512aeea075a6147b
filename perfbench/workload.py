"""Seeded inputs: the page corpus, the request sequences and the
re-crawl batch. Everything here derives from the run's ``--seed``; the
same seed gives the same pages and the same bodies in the same order.
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pandas as pd

from xml_to_es_spark import fixtures

N_PAGES = 2500  # base corpus
K = 10  # size of every page of hits

# Zipf rank bands of the 10k-term vocabulary: head terms sit in most
# pages (long postings; the engine's term cache sees them again and
# again), tail terms in a handful.
HEAD, MID, TAIL = (0, 10), (10, 1000), (1000, 10_000)
AND_MID = (10, 300)  # conjunctions of rarer terms are mostly empty
MATCH_SHAPES = (
    (HEAD, MID), (MID, MID), (HEAD, TAIL), (MID, TAIL, TAIL),
    (HEAD, MID, TAIL), (MID, MID, MID), (TAIL, TAIL),
)

# search_mixed: one round is this fixed block of bodies, each a body
# type and the bands its terms come from. Seven of ten are OR matches,
# so the median request is an OR match in every run. Fixed bands keep
# the work of a round the same from seed to seed; only the terms
# change. A run attempts whole rounds only.
SEARCH_ROUND = (
    *[("match", shape) for shape in MATCH_SHAPES[:4]],
    ("and", (HEAD, AND_MID)),
    *[("match", shape) for shape in MATCH_SHAPES[4:]],
    ("bool", ((0, 100), MID, (0, 50))),  # must, should, must_not
    ("and", (AND_MID, AND_MID)),
)
# match bodies per _msearch request: a whole number of MATCH_SHAPES
# cycles, so every batch holds the same shapes at the same query ids
MSEARCH_BATCH = 9 * len(MATCH_SHAPES)
# batches run before the timed region: until every Python worker the
# batch plan uses has started, each batch pays worker start-up, and with
# two warm-up batches the first timed one was a median 12% slower than
# the rest of its run over ten runs
MSEARCH_WARMUP = 3
# search rounds run before the timed region: the first holds every body
# type (the first ``and`` and ``bool`` requests compile codegen classes
# the first ``match`` does not); the second takes the steepest part of
# the warm-up ramp out of the timed region (after a single warm-up round,
# the first timed round's median latency was a median 14% above the
# second's over ten runs)
SEARCH_WARMUP = 2

# re-crawl round (traced runs): pages changed, unchanged and new, and
# live ids deleted
RECRAWL_CHANGED, RECRAWL_UNCHANGED, RECRAWL_NEW, RECRAWL_DELETED = 40, 40, 40, 5

_VOCAB = np.array(fixtures.make_vocab())  # in corpus-frequency order


def _seed32(seed: int, offset: int = 0, mult: int = 1) -> int:
    """``mult * seed + offset`` folded into the ``[0, 2**32)`` range
    numpy's ``RandomState`` accepts, so any integer ``--seed`` (large or
    negative) gives inputs; seeds that already fit are used as they
    are."""
    return (mult * seed + offset) % 2**32


class _Terms:
    """Draws a body's terms, one from each band of its shape. Head
    terms are taken in turn, so every round and every batch reads the
    same head postings, the costliest ones; the other bands are drawn
    uniformly by the seed."""

    def __init__(self, rng: np.random.RandomState):
        self.rng = rng
        self.head = itertools.cycle(range(*HEAD))

    def draw(self, bands) -> list[str]:
        while True:
            idx = [next(self.head) if band == HEAD else int(self.rng.randint(*band))
                   for band in bands]
            if len(set(idx)) == len(idx):
                return [str(_VOCAB[i]) for i in idx]


def pages(seed: int) -> pd.DataFrame:
    return fixtures.generate_pages(N_PAGES, seed=_seed32(seed))


def _match(text: str, operator: str | None = None) -> dict:
    spec = {"query": text} if operator is None else {"query": text, "operator": operator}
    return {"query": {"match": {"text": spec}}, "size": K}


def search_body(drawer: _Terms, kind: str, bands) -> tuple[dict, dict]:
    """One ``_search`` body and the terms it was made of (the checkers'
    input)."""
    terms = drawer.draw(bands)
    if kind == "match":
        return _match(" ".join(terms)), {"kind": kind, "text": " ".join(terms)}
    if kind == "and":
        return _match(" ".join(terms), "and"), {"kind": kind, "text": " ".join(terms)}
    if kind == "bool":
        must, should, must_not = [terms[0]], [terms[1]], [terms[2]]
        clause = lambda t: {"match": {"text": t}}  # noqa: E731
        body = {
            "query": {"bool": {
                "must": [clause(t) for t in must],
                "should": [clause(t) for t in should],
                "must_not": [clause(t) for t in must_not],
            }},
            "size": K,
        }
        return body, {"kind": kind, "must": must, "should": should, "must_not": must_not}
    raise ValueError(kind)


def search_rounds(seed: int, rounds: int) -> list[list[tuple[dict, dict]]]:
    """``rounds`` rounds of :data:`SEARCH_ROUND` bodies. The first
    :data:`SEARCH_WARMUP` rounds are the warm-up."""
    drawer = _Terms(np.random.RandomState(_seed32(seed, 1, 7919)))
    return [[search_body(drawer, kind, bands) for kind, bands in SEARCH_ROUND]
            for _ in range(rounds)]


def msearch_batches(seed: int, n_batches: int) -> list[list[str]]:
    """``n_batches`` batches of :data:`MSEARCH_BATCH` match query texts,
    taking :data:`MATCH_SHAPES` in turn, no query repeated. The first
    :data:`MSEARCH_WARMUP` batches are the warm-up."""
    drawer = _Terms(np.random.RandomState(_seed32(seed, 3, 7919)))
    seen: set[str] = set()
    texts: list[str] = []
    while len(texts) < n_batches * MSEARCH_BATCH:
        text = " ".join(sorted(drawer.draw(MATCH_SHAPES[len(texts) % len(MATCH_SHAPES)])))
        if text not in seen:
            seen.add(text)
            texts.append(text)
    return [
        texts[i : i + MSEARCH_BATCH]
        for i in range(0, n_batches * MSEARCH_BATCH, MSEARCH_BATCH)
    ]


def msearch_bodies(texts: list[str]) -> list[dict]:
    return [_match(t) for t in texts]


_ID_META = re.compile(r'<META name="id" content="(\d+)">')


def recrawl_batch(base: pd.DataFrame, seed: int, marker: str) -> tuple[pd.DataFrame, dict]:
    """A re-crawl of the base corpus: changed pages (``marker`` added to
    their body), unchanged pages (same html) and new pages (new ids,
    carrying ``marker``). Returns the pages and what was planted."""
    rng = np.random.RandomState(_seed32(seed, 4, 7919))
    n_base = len(base)
    picked = rng.choice(n_base, size=RECRAWL_CHANGED + RECRAWL_UNCHANGED, replace=False)
    changed, unchanged = picked[:RECRAWL_CHANGED], picked[RECRAWL_CHANGED:]
    rows = []
    for i in changed:
        r = base.iloc[int(i)].to_dict()
        html = r["html"].decode("utf-8").replace("</body>", f" {marker}\n</body>")
        rows.append({**r, "html": html.encode("utf-8"), "text": None})
    for i in unchanged:
        rows.append(base.iloc[int(i)].to_dict())
    fresh = fixtures.generate_pages(RECRAWL_NEW, seed=_seed32(seed, 1_000_003))
    for j, r in enumerate(fresh.to_dict("records")):
        new_id = n_base + j
        html = r["html"].decode("utf-8")
        html = _ID_META.sub(f'<META name="id" content="{new_id}">', html, count=1)
        html = html.replace("</body>", f" {marker}\n</body>")
        rows.append({**r, "url": f"https://recrawl-{new_id:08d}.test/p",
                     "html": html.encode("utf-8"), "text": None})
    live_unpicked = np.setdiff1d(np.arange(n_base), picked)
    deleted = sorted(int(d) for d in rng.choice(live_unpicked, size=RECRAWL_DELETED, replace=False))
    planted = {
        "changed": sorted(int(i) for i in changed),
        "new": list(range(n_base, n_base + RECRAWL_NEW)),
        "deleted": deleted,
    }
    return pd.DataFrame(rows, columns=base.columns), planted
