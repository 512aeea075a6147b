"""search_after on the block-max WAND path: cursor paging must
reproduce the full ranking exactly (bit-equal scores — WAND sums are
pinned), never re-emit a served doc, keep a k-sized heap at any
depth, and work identically on the single-group and ranged paths and
on both sides of the coordinator switch (``wand_sides``)."""

import numpy as np
import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine

CFG = IndexConfig(n_groups=2, salt_threshold=40, n_salts=3, block_size=32)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "doc_id": range(60),
            "text": [
                " ".join(["alpha"] * (1 + i % 5) + [f"w{i}"] + ["beta"] * (i % 3))
                for i in range(60)
            ],
        }
    )
    p = str(tmp_path_factory.mktemp("cw") / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(pdf), p)
    return p


@pytest.mark.parametrize("n_ranges", [None, 3])
def test_wand_cursor_paging_reproduces_full_ranking(spark, idx, n_ranges, wand_sides):
    eng = QueryEngine(spark, idx)
    q = [(1, "alpha beta"), (2, "alpha")]
    for _side in wand_sides():
        full = eng.topk_wand(q, k=60, n_ranges=n_ranges).toPandas()
        for qid in (1, 2):
            f = full[full.query_id == qid].sort_values("rank")
            got_docs, got_scores, cur = [], [], None
            for _ in range(30):
                kw = {"search_after": {qid: cur}} if cur else {}
                page = (
                    eng.topk_wand([(qid, dict(q)[qid])], k=9, n_ranges=n_ranges, **kw)
                    .toPandas().sort_values("rank")
                )
                if page.empty:
                    break
                assert list(page["rank"]) == list(range(1, len(page) + 1))
                assert not set(page["doc_id"]) & set(got_docs)  # no re-emission
                got_docs += list(page["doc_id"])
                got_scores += list(page["score"])
                cur = (float(page["score"].iat[-1]), int(page["doc_id"].iat[-1]))
            assert got_docs == list(f["doc_id"])
            assert got_scores == list(f["score"])  # bit-equal across pages


def test_wand_kernel_after_param():
    """Kernel-level: after= excludes exactly the served prefix and the
    heap result equals the corresponding slice of the full ranking."""
    from xml_to_es_spark.operators.wand import wand_topk

    rng = np.random.default_rng(7)
    from xml_to_es_spark.operators.postings import encode_segment

    entries = []
    for t, df_n in (("a", 40), ("b", 25)):
        docs = np.sort(rng.choice(200, size=df_n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=df_n).astype(np.int64)
        dls = rng.integers(5, 30, size=df_n).astype(np.int64)
        seg = encode_segment(docs, tfs, dls, block_size=16)
        seg["salt"] = 0
        seg["n_docs"] = df_n
        entries.append({"term": t, "idf": 1.3 if t == "a" else 2.1,
                        "segments": [seg]})
    full = wand_topk(entries, 100, 1.2, 0.75, 18.0, 16)
    for cut in (1, 5, 17, len(full) - 1):
        after = (full[cut - 1][1], full[cut - 1][0])
        rest = wand_topk(entries, 100, 1.2, 0.75, 18.0, 16, after=after)
        assert rest == full[cut:]
