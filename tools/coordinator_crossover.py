"""Where does the coordinator WAND path stop paying off?

Times the WAND executor behind ``QueryEngine.topk_wand`` on both of
its sides — the driver-side coordinator path and the Spark path — by
patching the class bound ``_COORDINATOR_MAX_POSTINGS`` to infinity and
to 0, over ``fixtures.generate_pages`` corpora of growing size, for
single queries and for 63-query batches of three request kinds: OR
``match`` (``topk_wand``), ``operator: and`` (``topk_wand(min_match=
"all")``) and flat ``bool`` (``bool_topk`` with must / should /
must_not). The bound belongs where the Spark path starts to win. Every
timed pair is also checked for identical rows. ``--n-ranges`` is
passed to every ``topk_wand`` call (it moves only the Spark side) and
``--cores`` sets the local[N] session.

Queries follow the benchmark's OR ``match`` shapes: one term from each
of a shape's Zipf rank bands (head 0–9, mid 10–999, tail 1000–9999).
A batch is nine cycles of the seven shapes. An ``and`` request needs
every term of its shape; a ``bool`` request takes the shape's first
term as must, the second (or the first again) as should and one tail
term as must_not.

Usage (one local[N] session, warm-start off; prints one table row per
(pages, kind, size) and a JSON line at the end):

    python tools/coordinator_crossover.py --pages 2500 10000 40000 \
        --reps 5 --work /tmp/crossover [--cores 4 --n-ranges 4] \
        [--kinds or and bool]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
os.environ.setdefault("SPARK_GRAFT_WARM_START", "0")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

import numpy as np  # noqa: E402

from xml_to_es_spark import IndexConfig, fixtures  # noqa: E402
from xml_to_es_spark.functions.extract import extract_fields  # noqa: E402
from xml_to_es_spark.operators.index_build import IndexBuilder  # noqa: E402
from xml_to_es_spark.operators.query_engine import QueryEngine  # noqa: E402
from xml_to_es_spark.session import get_spark  # noqa: E402

HEAD, MID, TAIL = (0, 10), (10, 1000), (1000, 10_000)
SHAPES = (
    (HEAD, MID), (MID, MID), (HEAD, TAIL), (MID, TAIL, TAIL),
    (HEAD, MID, TAIL), (MID, MID, MID), (TAIL, TAIL),
)
VOCAB = fixtures.make_vocab()


def queries(rng: np.random.RandomState, n: int) -> list[tuple[int, str]]:
    return [
        (i, " ".join(VOCAB[rng.randint(*band)] for band in SHAPES[i % len(SHAPES)]))
        for i in range(n)
    ]


def bool_specs(rng: np.random.RandomState, qs) -> list[tuple[int, dict]]:
    out = []
    for qid, text in qs:
        terms = text.split()
        must_not = VOCAB[rng.randint(*TAIL)]
        while must_not in terms:
            must_not = VOCAB[rng.randint(*TAIL)]
        out.append((qid, {"must": terms[0], "should": terms[-1],
                          "must_not": must_not}))
    return out


def run(eng: QueryEngine, kind: str, qs, n_ranges: int | None):
    if kind == "bool":
        return eng.bool_topk(qs, k=10)
    return eng.topk_wand(qs, k=10, n_ranges=n_ranges,
                         min_match="all" if kind == "and" else None)


def timed(eng: QueryEngine, kind: str, qs, bound: float, n_ranges: int | None):
    QueryEngine._COORDINATOR_MAX_POSTINGS = bound
    t = time.perf_counter()
    rows = run(eng, kind, qs, n_ranges).collect()
    return time.perf_counter() - t, sorted(tuple(r) for r in rows)


def volume(eng: QueryEngine, kind: str, qs) -> int:
    """Matched postings: Σ live df over the (query, term) rows the
    executor reads (a bool's must_not terms included)."""
    if kind == "bool":
        meta, present, _roles = eng._flat_bool_roles(qs, None)
    else:
        qt = eng._query_terms(qs)
        if qt is None:
            return 0
        meta, present = qt
    return sum(meta[t]["df"] for _q, t, _i, _a in present)


def measure(eng, kind: str, qs_list, reps: int, n_ranges: int | None) -> dict:
    """Median ms of each side over ``reps`` passes of ``qs_list``
    (sides alternate within a pass) and the median matched volume."""
    coord, dist, mismatches = [], [], 0
    for qs in qs_list:  # one untimed pass warms both sides
        timed(eng, kind, qs, float("inf"), n_ranges)
        timed(eng, kind, qs, 0, n_ranges)
    for _ in range(reps):
        for qs in qs_list:
            tc, rc = timed(eng, kind, qs, float("inf"), n_ranges)
            ts, rs = timed(eng, kind, qs, 0, n_ranges)
            coord.append(tc)
            dist.append(ts)
            mismatches += rc != rs
    return {
        "postings": int(statistics.median(volume(eng, kind, qs) for qs in qs_list)),
        "coordinator_ms": round(statistics.median(coord) * 1e3, 1),
        "spark_ms": round(statistics.median(dist) * 1e3, 1),
        "row_mismatches": mismatches,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pages", type=int, nargs="+", default=[2500, 10000, 40000])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--n-ranges", type=int, default=None)
    ap.add_argument("--kinds", nargs="+", default=["or", "and", "bool"],
                    choices=["or", "and", "bool"])
    ap.add_argument("--work", default=None, help="scratch directory (removed)")
    args = ap.parse_args()
    work = Path(args.work or f"/tmp/coordinator_crossover_{os.getpid()}")
    work.mkdir(parents=True, exist_ok=True)
    bound = QueryEngine._COORDINATOR_MAX_POSTINGS
    spark = get_spark(
        app="crossover", cores=args.cores, shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    results = []
    try:
        for n in args.pages:
            pages = fixtures.generate_pages(n, args.seed)
            docs = extract_fields(spark.createDataFrame(pages)).selectExpr(
                "cast(id as long) as doc_id", "coalesce(text, '') as text"
            )
            idx = str(work / f"idx_{n}")
            IndexBuilder(spark, IndexConfig()).build(docs, idx)
            eng = QueryEngine(spark, idx)
            for kind in args.kinds:
                rng = np.random.RandomState(args.seed)
                singles = [[q] for q in queries(rng, len(SHAPES))]
                batches = [queries(rng, 9 * len(SHAPES)) for _ in range(2)]
                if kind == "bool":
                    singles = [bool_specs(rng, qs) for qs in singles]
                    batches = [bool_specs(rng, qs) for qs in batches]
                for size, qs_list in (("single", singles), ("batch63", batches)):
                    row = {"pages": n, "kind": kind, "size": size,
                           **measure(eng, kind, qs_list, args.reps, args.n_ranges)}
                    results.append(row)
                    print(
                        f"| {n} | {kind} | {size} | {row['postings']} "
                        f"| {row['coordinator_ms']} | {row['spark_ms']} "
                        f"| {row['row_mismatches']} |",
                        flush=True,
                    )
            shutil.rmtree(idx, ignore_errors=True)
    finally:
        QueryEngine._COORDINATOR_MAX_POSTINGS = bound
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cores": args.cores, "n_ranges": args.n_ranges,
                      "reps": args.reps, "results": results}))


if __name__ == "__main__":
    main()
