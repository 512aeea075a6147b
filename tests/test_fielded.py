"""Fielded indexing (ES body/title mapping, examples/mapping.json:11-12;
asserted by the reference's FileSpecPage.js:71-87 on BOTH fields),
multi_match, ES pagination (from/size, search_after), and the
tombstone-growth guard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine, bm25_topk_dataframe

CFG = IndexConfig(
    n_groups=2, salt_threshold=40, n_salts=3, block_size=32,
    indexed_fields=("text", "title"), store_positions=True,
)

QS = [(1, "biogen"), (2, "alpha w7"), (3, "w3")]


def _corpus(n=60):
    rows = []
    for i in range(n):
        body = f"alpha common w{i} " + ("beta " * (i % 3)) + "filler words here"
        # doc 7's title contains a term its body does NOT — the
        # reference's test shape (title "BIOGEN" vs body "Biogen")
        title = f"title w{i}" + (" biogen" if i == 7 else "")
        rows.append((i, body, title))
    return pd.DataFrame(rows, columns=["doc_id", "text", "title"])


@pytest.fixture(scope="module")
def fielded(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fielded")
    pdf = _corpus()
    idx = str(root / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(pdf), idx)
    return root, pdf, idx


@pytest.fixture(scope="module")
def fielded_mut(fielded):
    """A COPY of the fielded index for the mutating upsert/compact
    tests, so the module-scoped `fielded` index stays pristine for the
    tests whose pandas twins are computed from the original corpus."""
    import shutil

    root, pdf, idx = fielded
    mut = str(root / "mut_idx")
    shutil.copytree(idx, mut)
    return root, pdf, mut


def test_title_only_hit_ranks_per_field(spark, fielded):
    """ES semantics: match on {title: biogen} finds the title-only
    doc; match on {text: biogen} does not."""
    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    assert eng.fields == ("text", "title") and eng.fielded
    body = eng.topk(QS, k=5, field="text").toPandas()
    title = eng.topk(QS, k=5, field="title").toPandas()
    assert body[body.query_id == 1].empty
    assert list(title[title.query_id == 1]["doc_id"]) == [7]


def test_per_field_scores_bit_equal_to_dataframe_twin(spark, fielded, wand_sides):
    """Each field scores with ITS OWN df/avgdl/dl — bit-equal to the
    pure-DataFrame BM25 run over that column alone, on the pinned-sum
    codec path and on both sides of the WAND path (coordinator and
    distributed Spark)."""
    root, pdf, idx = fielded
    docs = spark.createDataFrame(pdf)
    eng = QueryEngine(spark, idx)
    for fld in ("text", "title"):
        want = (
            bm25_topk_dataframe(
                docs.select("doc_id", F.col(fld).alias("text")),
                QS, k=5, score_decimals=None,
            )
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        got_all = [eng.topk(QS, k=5, field=fld)]
        for _side in wand_sides():
            got_all.append(eng.topk_wand(QS, k=5, field=fld, n_ranges=2))
        for got in got_all:
            g = got.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
            assert list(g.doc_id) == list(want.doc_id)
            assert list(g.score) == [float(s) for s in want.score]  # bit-equal


def test_multi_match_best_and_most_fields(spark, fielded):
    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    per_field = {}
    for fld in ("text", "title"):
        per_field[fld] = {
            (int(r.query_id), int(r.doc_id)): r.score
            for r in eng.topk(QS, k=60, field=fld).toPandas().itertuples()
        }
    bf = eng.multi_match(QS, k=5, match_type="best_fields").toPandas()
    for r in bf.itertuples():
        key = (int(r.query_id), int(r.doc_id))
        want = max(per_field["text"].get(key, -1.0), per_field["title"].get(key, -1.0))
        assert r.score == want  # dis_max = exact max of field scores
    assert (1, 7) in {(int(r.query_id), int(r.doc_id)) for r in bf.itertuples()}
    mf = eng.multi_match(QS, k=5, match_type="most_fields").toPandas()
    for r in mf.itertuples():
        key = (int(r.query_id), int(r.doc_id))
        want = per_field["text"].get(key, 0.0) + per_field["title"].get(key, 0.0)
        assert abs(r.score - want) < 1e-9  # sum across fields


def test_fielded_phrase_and_field_validation(spark, fielded):
    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    ph = eng.phrase_topk([(1, "alpha common")], k=5, field="text").toPandas()
    assert len(ph) == 5
    assert eng.phrase_topk([(1, "common alpha")], k=5, field="text").count() == 0
    with pytest.raises(ValueError, match="not indexed"):
        eng.topk(QS, k=5, field="nope")
    bad = IndexBuilder(spark, IndexConfig(indexed_fields=("text",)))
    with pytest.raises(ValueError, match="mapping drift"):
        bad.validate_mapping(idx)


def test_fielded_upsert_inherits_mapping_and_matches_rebuild(
    spark, fielded_mut, wand_sides
):
    """An upsert from a DEFAULT-config builder must inherit the fielded
    + positional mapping (ES: a PUT cannot change the mapping), detect
    title-only changes, and stay bit-equal to a fresh rebuild."""
    root, pdf, idx = fielded_mut
    patch = pd.DataFrame(
        {
            "doc_id": [7, 100],
            "text": ["alpha rewritten body", "new doc body biogen"],
            "title": ["changed title", "new title"],
        }
    )
    res = IndexBuilder(spark).upsert(spark.createDataFrame(patch), idx)
    assert res["mode"] == "delta" and res["n_changed"] == 1 and res["n_new"] == 1
    eng2 = QueryEngine(spark, idx)
    assert eng2.topk([(1, "biogen")], k=5, field="title").count() == 0
    assert list(
        eng2.topk([(1, "biogen")], k=5, field="text").toPandas()["doc_id"]
    ) == [100]

    v2 = pdf.copy()
    v2.loc[v2.doc_id == 7, ["text", "title"]] = ["alpha rewritten body", "changed title"]
    v2 = pd.concat([v2, patch[patch.doc_id == 100]], ignore_index=True)
    rebuild = str(root / "rebuild")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v2), rebuild)
    engr = QueryEngine(spark, rebuild)
    for fld in ("text", "title"):
        b = (
            engr.topk(QS, k=10, field=fld)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        for _side in wand_sides():
            a = (
                eng2.topk_wand(QS, k=10, field=fld, n_ranges=2)
                .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
            )
            assert list(a.doc_id) == list(b.doc_id)
            assert list(a.score) == list(b.score)

    # a TITLE-only re-crawl is a change (md5 spans all indexed fields)
    res2 = IndexBuilder(spark).upsert(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [3], "text": [pdf[pdf.doc_id == 3].text.iat[0]],
                 "title": ["totally new biogen title"]}
            )
        ),
        idx,
    )
    assert res2["mode"] == "delta" and res2["n_changed"] == 1
    eng3 = QueryEngine(spark, idx)
    got = eng3.topk([(1, "biogen")], k=5, field="title").toPandas()
    assert list(got["doc_id"]) == [3]


def test_fielded_compact_keeps_fields_and_positions(spark, fielded_mut):
    """Compaction of the fielded LSM (runs after the upserts above)
    inherits the mapping: still two fields, positional sidecar intact."""
    root, pdf, idx = fielded_mut
    out = str(root / "compacted")
    IndexBuilder(spark).compact(idx, out)
    eng = QueryEngine(spark, out)
    assert eng.fields == ("text", "title")
    assert list(
        eng.phrase_topk([(1, "alpha rewritten")], k=5, field="text")
        .toPandas()["doc_id"]
    ) == [7]
    assert list(
        eng.topk([(1, "biogen")], k=5, field="title").toPandas()["doc_id"]
    ) == [3]


def test_pagination_pages_are_slices_of_full_ranking(spark, tmp_path, wand_sides):
    cfg = IndexConfig(n_groups=2, block_size=32)
    pdf = pd.DataFrame(
        {"doc_id": range(40), "text": [f"alpha w{i} beta" for i in range(40)]}
    )
    idx = str(tmp_path / "page_idx")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), idx)
    eng = QueryEngine(spark, idx)
    q = [(1, "alpha"), (2, "beta")]
    for _side in wand_sides():
        full = eng.topk_wand(q, k=20, n_ranges=2).toPandas().sort_values(
            ["query_id", "rank"]
        )
        for path in ("topk", "wand", "dist"):
            if path == "topk":
                page2 = eng.topk(q, k=10, from_=10).toPandas()
            elif path == "wand":
                page2 = eng.topk_wand(q, k=10, n_ranges=2, from_=10).toPandas()
            else:
                page2 = eng.topk_distributed(q, k=10, from_=10).toPandas()
            page2 = page2.sort_values(["query_id", "rank"])
            for qid in (1, 2):
                f = full[full.query_id == qid]
                p = page2[page2.query_id == qid]
                assert list(p["rank"]) == list(range(11, 11 + len(p)))
                assert list(p["doc_id"]) == list(f["doc_id"])[10:10 + len(p)]
                if path != "dist":
                    assert list(p["score"]) == list(f["score"])[10:10 + len(p)]

    # search_after cursor: strictly-after hits, in order, no overlap
    first = eng.topk_distributed(q, k=10).toPandas()
    cur = {
        qid: (
            float(first[first.query_id == qid].score.iat[-1]),
            int(first[first.query_id == qid].doc_id.iat[-1]),
        )
        for qid in (1, 2)
    }
    nxt = eng.topk_distributed(q, k=10, search_after=cur).toPandas()
    for qid in (1, 2):
        f = first[first.query_id == qid]
        n = nxt[nxt.query_id == qid]
        dist_full = eng.topk_distributed(q, k=20).toPandas()
        df_q = dist_full[dist_full.query_id == qid]
        assert list(n["doc_id"]) == list(df_q["doc_id"])[10:10 + len(n)]
        assert not set(n["doc_id"]) & set(f["doc_id"])


def test_tombstone_growth_guard(spark, tmp_path):
    cfg = IndexConfig(n_groups=1)
    pdf = pd.DataFrame(
        {"doc_id": range(10), "text": [f"alpha w{i}" for i in range(10)]}
    )
    idx = str(tmp_path / "guard_idx")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), idx)
    patch = pd.DataFrame(
        {"doc_id": range(5), "text": [f"rewritten w{i}" for i in range(5)]}
    )
    IndexBuilder(spark, cfg).upsert(spark.createDataFrame(patch), idx)
    with pytest.raises(ValueError, match="run IndexBuilder.compact"):
        QueryEngine(spark, idx, max_tombstones=3)
    # default bound admits it; None disables the guard entirely
    assert QueryEngine(spark, idx).n_docs == 10
    assert QueryEngine(spark, idx, max_tombstones=None).n_docs == 10
    # compaction resets the tombstone set — the strict bound passes
    out = str(tmp_path / "guard_c")
    IndexBuilder(spark, cfg).compact(idx, out)
    assert QueryEngine(spark, out, max_tombstones=3).n_docs == 10


def test_search_after_rank_anchored_survives_ulp_drift(spark, tmp_path):
    """On the hash-aggregate bool path (engine-ordered float sums) the
    cursor must be anchored on the cursor DOC's position in the
    current job's ranking, not on bit-exact float equality with the
    fed-back score: a one-ulp perturbation of the cursor score (the
    cross-job F.sum accumulation-order drift the round-3 ADVICE
    flagged) must neither skip nor duplicate boundary docs. Also:
    paging the whole ranking by cursor reproduces it exactly, and a
    VANISHED cursor doc falls back to the fed ordering key. The WAND
    paths (``topk_distributed``) sum in the pinned order, so their
    cursor is the exact fed-back key and pages reproduce the ranking
    too."""
    import math

    cfg = IndexConfig(n_groups=2, block_size=32)
    pdf = pd.DataFrame(
        {"doc_id": range(40), "text": [f"alpha w{i} beta" for i in range(40)]}
    )
    idx = str(tmp_path / "cursor_idx")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf), idx)
    eng = QueryEngine(spark, idx)
    q = [(1, "alpha"), (2, "beta")]

    def rich(qid, **kw):
        # a clause-list spec keeps bool_topk on the hash-aggregate path
        spec = {"should": [{"match": dict(q)[qid]}]}
        return eng.bool_topk([(qid, spec)], **kw).toPandas()

    full = eng.topk_distributed(q, k=40).toPandas().sort_values(
        ["query_id", "rank"]
    )

    # page through the entire ranking with a one-ulp-perturbed cursor
    # score each time — rank anchoring must make the drift irrelevant
    for qid in (1, 2):
        want = list(full[full.query_id == qid]["doc_id"])
        got, cur = [], None
        while True:
            kw = {"search_after": {qid: cur}} if cur else {}
            page = rich(qid, k=7, **kw)
            if page.empty:
                break
            got += list(page["doc_id"])
            s = float(page["score"].iat[-1])
            drifted = math.nextafter(s, math.inf if len(got) % 2 else -math.inf)
            cur = (drifted, int(page["doc_id"].iat[-1]))
        assert got == want  # no skips, no duplicates, full coverage
        # exact-key cursor on the WAND path
        got, cur = [], None
        while True:
            kw = {"search_after": {qid: cur}} if cur else {}
            page = eng.topk_distributed([(qid, dict(q)[qid])], k=7, **kw).toPandas()
            if page.empty:
                break
            got += list(page["doc_id"])
            cur = (float(page["score"].iat[-1]), int(page["doc_id"].iat[-1]))
        assert got == want

    # vanished cursor doc (id not in the index): fed-key ordering
    # fallback. Single-term docs → one addend per score → recompute
    # is bit-stable, so the expectation is exact. (A cursor doc
    # DELETED between pages also takes this fallback, but a delete
    # shifts df/idf — every score moves, and like ES without a
    # point-in-time reader the fed sort key then lands best-effort.)
    pdf2 = pd.DataFrame(
        {"doc_id": range(30), "text": [("alpha " * (i + 1)).strip() for i in range(30)]}
    )
    idx2 = str(tmp_path / "cursor_idx2")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(pdf2), idx2)
    eng2 = QueryEngine(spark, idx2)
    full2 = eng2.topk_distributed([(1, "alpha")], k=30).toPandas().sort_values("rank")
    s10 = float(full2.score.iat[9])
    want = list(full2[full2.score < s10]["doc_id"])
    for nxt in (
        eng2.bool_topk([(1, {"should": [{"match": "alpha"}]})], k=30,
                       search_after={1: (s10, 10**9)}),
        eng2.topk_distributed([(1, "alpha")], k=30,
                              search_after={1: (s10, 10**9)}),
    ):
        assert list(nxt.toPandas().sort_values("rank")["doc_id"]) == want


def test_fielded_md5_injective_on_separator_bytes(spark, tmp_path):
    """Change-detection md5 must be injective in the field TUPLE:
    ("a\\x1f", "") and ("a", "\\x1f") are different documents and an
    upsert from one to the other must register as a change (a
    separator-joined digest collides here — round-3 ADVICE)."""
    cfg = IndexConfig(n_groups=1, indexed_fields=("text", "title"))
    v1 = pd.DataFrame({"doc_id": [0], "text": ["a\x1f"], "title": [""]})
    idx = str(tmp_path / "inj_idx")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(v1), idx)
    v2 = pd.DataFrame({"doc_id": [0], "text": ["a"], "title": ["\x1f"]})
    res = IndexBuilder(spark, cfg).upsert(spark.createDataFrame(v2), idx)
    assert res["mode"] == "delta" and res["n_changed"] == 1
    # and the unchanged replay is still a noop
    res2 = IndexBuilder(spark, cfg).upsert(spark.createDataFrame(v2), idx)
    assert res2["mode"] == "noop"


def test_multi_match_boosts_and_tie_breaker(spark, fielded):
    """field^boost scales that field's idf (score x boost); dis_max
    tie_breaker combines max + t*(sum of other fields) over the FULL
    match set — verified against a per-field pandas twin."""
    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    q = [(1, "alpha beta"), (2, "gamma")]
    big = 200
    ft = eng.topk(q, k=big, field="title").toPandas()
    fb = eng.topk(q, k=big, field="text").toPandas()

    def combined(tie, tboost):
        import collections
        per = collections.defaultdict(dict)
        for _, r in ft.iterrows():
            per[(r.query_id, r.doc_id)]["t"] = tboost * r.score
        for _, r in fb.iterrows():
            per[(r.query_id, r.doc_id)]["b"] = r.score
        rows = []
        for (qid, doc), d in per.items():
            vals = list(d.values())
            rows.append((qid, doc, max(vals) + tie * (sum(vals) - max(vals))))
        out = pd.DataFrame(rows, columns=["query_id", "doc_id", "score"])
        out = out.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True]
        )
        out["rank"] = out.groupby("query_id").cumcount() + 1
        return out[out["rank"] <= 5].reset_index(drop=True)

    # pure-max path with boost
    got = (
        eng.multi_match(q, k=5, fields=["title^2", "text"])
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = combined(0.0, 2.0)
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)

    # dis_max tie_breaker path (full-agg route)
    got2 = (
        eng.multi_match(q, k=5, fields=["title^2", "text"], tie_breaker=0.3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want2 = combined(0.3, 2.0)
    assert list(got2["doc_id"]) == list(want2["doc_id"])
    np.testing.assert_allclose(got2["score"], want2["score"], rtol=1e-9)

    # most_fields with boosts: sum of boosted per-field scores
    got3 = (
        eng.multi_match(q, k=5, fields=["title^2", "text"],
                        match_type="most_fields")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    import collections
    per = collections.defaultdict(float)
    for _, r in ft.iterrows():
        per[(r.query_id, r.doc_id)] += 2.0 * r.score
    for _, r in fb.iterrows():
        per[(r.query_id, r.doc_id)] += r.score
    rows = pd.DataFrame(
        [(q_, d_, s_) for (q_, d_), s_ in per.items()],
        columns=["query_id", "doc_id", "score"],
    ).sort_values(["query_id", "score", "doc_id"], ascending=[True, False, True])
    rows["rank"] = rows.groupby("query_id").cumcount() + 1
    want3 = rows[rows["rank"] <= 5].reset_index(drop=True)
    assert list(got3["doc_id"]) == list(want3["doc_id"])
    np.testing.assert_allclose(got3["score"], want3["score"], rtol=1e-9)

    with pytest.raises(ValueError, match="tie_breaker"):
        eng.multi_match(q, k=5, tie_breaker=1.5)


def _field_stats(pdf, col):
    from xml_to_es_spark.pyref import tokenize

    toks = {r.doc_id: tokenize(getattr(r, col)) for r in pdf.itertuples()}
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / len(dl)
    df = {}
    for t in set(x for ts in toks.values() for x in ts):
        df[t] = sum(1 for ts in toks.values() if t in ts)
    return toks, dl, avgdl, df


def test_multi_match_phrase_type(spark, fielded):
    """Round-6 multi_match type=phrase: per-field match_phrase under
    the dis_max combine — twin = per-field phrase_topk pages merged
    max + tie_breaker·rest in pandas."""
    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    qs = [(1, "alpha common"), (2, "title w7")]
    for tb in (0.0, 0.3):
        got = eng.multi_match(qs, k=60, match_type="phrase",
                              tie_breaker=tb).toPandas()
        a = eng.phrase_topk(qs, k=60, field="text").toPandas()
        b = eng.phrase_topk(qs, k=60, field="title").toPandas()
        per = {}
        for fr in (a, b):
            for r in fr.itertuples():
                per.setdefault((r.query_id, r.doc_id), []).append(r.score)
        want = {}
        for key, ss in per.items():
            want[key] = max(ss) + tb * (sum(ss) - max(ss))
        rows = sorted(want.items(), key=lambda x: (x[0][0], -x[1], x[0][1]))
        got_keys = [(r.query_id, r.doc_id) for r in got.itertuples()]
        assert got_keys == [k for k, _ in rows]
        np.testing.assert_allclose(
            got.score, [s for _, s in rows], rtol=1e-9)


def test_multi_match_cross_fields(spark, fielded):
    """Round-6 multi_match type=cross_fields: per-token blended df
    (max across fields, the Lucene BlendedTermQuery), per-token max
    across fields + tie_breaker·rest, summed over tokens — twin =
    the same formula in pandas."""
    import math

    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    n = len(pdf)
    tstats = _field_stats(pdf, "text")
    ustats = _field_stats(pdf, "title")
    qs = [(1, "biogen w7"), (2, "alpha title")]

    def twin(text, tb):
        from xml_to_es_spark.pyref import tokenize

        out = {}
        for d in pdf.doc_id:
            tot = 0.0
            for tok in sorted(set(tokenize(text))):
                dfb = max(tstats[3].get(tok, 0), ustats[3].get(tok, 0))
                if dfb == 0:
                    continue
                idf = math.log(1 + (n - dfb + 0.5) / (dfb + 0.5))
                ss = []
                for toks, dl, avgdl, _df in (tstats, ustats):
                    tf = toks[d].count(tok)
                    if tf:
                        ss.append(idf * tf * 2.2 / (
                            tf + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl)))
                if ss:
                    tot += max(ss) + tb * (sum(ss) - max(ss))
            if tot > 0:
                out[d] = tot
        return sorted(out.items(), key=lambda x: (-x[1], x[0]))

    for tb in (0.0, 0.4):
        got = eng.multi_match(qs, k=60, match_type="cross_fields",
                              tie_breaker=tb).toPandas()
        for qid, text in qs:
            g = got[got.query_id == qid]
            want = twin(text, tb)
            assert list(g.doc_id) == [d for d, _ in want], (qid, tb)
            np.testing.assert_allclose(
                g.score, [s for _, s in want], rtol=1e-9)
    # the blending is visible: "biogen" appears only in doc 7's title,
    # so its cross_fields idf uses df=1 — and doc 7 matches via the
    # title variant even though the text field lacks the term
    assert 7 in list(got[got.query_id == 1].doc_id)


def test_multi_match_new_types_dsl(spark, fielded):
    """The DSL routes the new types and rejects cursors on them."""
    from xml_to_es_spark.operators.es_query import es_search

    root, pdf, idx = fielded
    eng = QueryEngine(spark, idx)
    out = es_search(eng, {"query": {"multi_match": {
        "query": "alpha common", "type": "phrase"}}, "size": 5}).toPandas()
    direct = eng.multi_match([(0, "alpha common")], k=5,
                             match_type="phrase").toPandas()
    assert list(out.doc_id) == list(direct.doc_id)
    with pytest.raises(ValueError, match="search_after"):
        es_search(eng, {"query": {"multi_match": {
            "query": "alpha", "type": "cross_fields"}},
            "search_after": [1.0, 3], "size": 5})
