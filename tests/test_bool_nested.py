"""RICH (nested-tree) ES bool queries: clause lists with per-clause
OR-match / operator / boost / field, nested {"bool": ...} sub-trees,
structured clauses in any role, bool-level minimum_should_match, and
the rank-anchored search_after cursor on the bool path.

Every semantic claim is checked against an equivalent composition of
already-oracle-verified engine calls (legacy flat bool / min_match),
so these tests pin the tree evaluator to the flat path's physics.
"""

import numpy as np
import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "doc_id": range(60),
            "text": [
                ("alpha " * (1 + i % 3))
                + ("beta " if i % 2 == 0 else "")
                + ("gamma " if i % 5 == 0 else "")
                + ("delta " if i % 7 == 0 else "")
                + f"w{i}"
                for i in range(60)
            ],
            "lang": [["en", "de", "fr"][i % 3] for i in range(60)],
            "n_chars": [100 + 5 * i for i in range(60)],
        }
    )
    idx = str(tmp_path_factory.mktemp("richbool") / "idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=2, stored_fields=("lang", "n_chars"))
    ).build(spark.createDataFrame(pdf), idx)
    return QueryEngine(spark, idx)


def _p(df):
    return df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)


def test_rich_flat_matches_legacy(eng):
    legacy = _p(eng.bool_topk(
        [(1, {"must": "alpha beta", "must_not": "gamma"})], k=30
    ))
    rich = _p(eng.bool_topk(
        [(1, {"must": [{"match": "alpha"}, {"match": "beta"}],
              "must_not": [{"match": "gamma"}]})], k=30
    ))
    assert list(legacy.doc_id) == list(rich.doc_id)
    np.testing.assert_allclose(legacy.score, rich.score, rtol=1e-12)


def test_multi_token_match_clause_is_or(eng):
    """The ES per-clause default: a multi-token match clause requires
    ANY of its tokens (the round-4 ADVICE defect was AND-of-tokens)."""
    got = _p(eng.bool_topk([(1, {"must": [{"match": "beta gamma"}]})], k=60))
    want = _p(eng.bool_topk([(1, {"should": "beta gamma"})], k=60))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score, want.score, rtol=1e-12)


def test_operator_and_inside_clause(eng):
    got = _p(eng.bool_topk(
        [(1, {"must": [{"match": {"query": "beta gamma",
                                  "operator": "and"}}]})], k=60
    ))
    want = _p(eng.bool_topk([(1, {"must": "beta gamma"})], k=60))
    assert list(got.doc_id) == list(want.doc_id)


def test_per_clause_boost_scales_contribution(eng):
    boosted = _p(eng.bool_topk(
        [(1, {"must": [{"match": {"query": "beta", "boost": 2.0}}]})], k=60
    ))
    plain = _p(eng.bool_topk([(1, {"must": [{"match": "beta"}]})], k=60))
    np.testing.assert_allclose(boosted.score, 2.0 * plain.score, rtol=1e-12)


def test_bool_level_minimum_should_match(eng):
    got = _p(eng.bool_topk(
        [(1, {"should": [{"match": "beta"}, {"match": "gamma"},
                         {"match": "delta"}],
              "minimum_should_match": 2})], k=60
    ))
    want = eng.topk_distributed(
        [(1, "beta gamma delta")], k=60, min_match=2
    ).toPandas()
    assert set(got.doc_id) == set(want.doc_id)
    np.testing.assert_allclose(
        got.sort_values("doc_id").score.values,
        want.sort_values("doc_id").score.values,
        rtol=1e-9,
    )
    # percentage form: "67%" of 3 optional clauses = floor → 2
    pct = _p(eng.bool_topk(
        [(1, {"should": [{"match": "beta"}, {"match": "gamma"},
                         {"match": "delta"}],
              "minimum_should_match": "67%"})], k=60
    ))
    assert set(pct.doc_id) == set(got.doc_id)


def test_nested_should_of_musts(eng):
    """(beta AND gamma) OR (delta AND alpha): the canonical nested
    shape; a doc matching both sub-bools scores the sum of both."""
    nested = _p(eng.bool_topk(
        [(1, {"should": [
            {"bool": {"must": [{"match": "beta"}, {"match": "gamma"}]}},
            {"bool": {"must": [{"match": "delta"}, {"match": "alpha"}]}},
        ]})], k=60
    ))
    s1 = _p(eng.bool_topk([(1, {"must": "beta gamma"})], k=60))
    s2 = _p(eng.bool_topk([(1, {"must": "delta alpha"})], k=60))
    assert set(nested.doc_id) == set(s1.doc_id) | set(s2.doc_id)
    m1 = dict(zip(s1.doc_id, s1.score))
    m2 = dict(zip(s2.doc_id, s2.score))
    for d, s in zip(nested.doc_id, nested.score):
        assert abs(s - (m1.get(d, 0.0) + m2.get(d, 0.0))) < 1e-9


def test_nested_bool_boost_and_filter_context(eng):
    """A nested bool's boost multiplies its whole sub-sum; a nested
    bool under filter matches but contributes zero score."""
    plain = _p(eng.bool_topk(
        [(1, {"should": [{"bool": {"must": [{"match": "beta"}]}}]})], k=60
    ))
    boosted = _p(eng.bool_topk(
        [(1, {"should": [{"bool": {"must": [{"match": "beta"}],
                                   "boost": 3.0}}]})], k=60
    ))
    np.testing.assert_allclose(boosted.score, 3.0 * plain.score, rtol=1e-12)
    filtered = _p(eng.bool_topk(
        [(1, {"must": [{"match": "alpha"}],
              "filter": [{"bool": {"must": [{"match": "beta"}]}}]})], k=60
    ))
    want = _p(eng.bool_topk([(1, {"must": "alpha", "filter": "beta"})], k=60))
    assert list(filtered.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(filtered.score, want.score, rtol=1e-12)


def test_structured_clause_in_must_and_match_all(eng):
    got = _p(eng.bool_topk(
        [(1, {"must": [{"match": "beta"},
                       {"range": {"n_chars": {"gte": 200}}}]})], k=60
    ))
    want = _p(eng.bool_topk(
        [(1, {"must": "beta",
              "filter": [{"range": {"n_chars": {"gte": 200}}}]})], k=60
    ))
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score, want.score, rtol=1e-12)
    # rich structured-only query = ES match_all + filter, score 0
    so = _p(eng.bool_topk(
        [(2, {"filter": [{"term": {"lang": "en"}}], "boost": 1.0})], k=60
    ))
    wo = _p(eng.bool_topk([(2, {"filter": [{"term": {"lang": "en"}}]})], k=60))
    assert list(so.doc_id) == list(wo.doc_id)
    assert (so.score == 0).all()


def test_unbounded_trees_raise(eng):
    with pytest.raises(ValueError, match="unbounded"):
        eng.bool_topk(
            [(1, {"should": [{"match": "beta"}],
                  "minimum_should_match": 0})], k=5
        )
    with pytest.raises(ValueError, match="must_not-only|unbounded"):
        eng.bool_topk([(1, {"must_not": [{"match": "beta"}]})], k=5)


def test_bool_cursor_pages_equal_full_ranking(eng):
    q = [(1, {"should": "beta gamma delta"})]
    full = _p(eng.bool_topk(q, k=20))
    p1 = full.iloc[:10]
    cur = {1: (float(p1.score.iat[-1]), int(p1.doc_id.iat[-1]))}
    p2 = _p(eng.bool_topk(q, k=10, search_after=cur))
    assert list(p2.doc_id) == list(full.iloc[10:20].doc_id)


def test_rich_bool_aggs(eng):
    """bool_aggs routes rich specs through the same tree match set."""
    out = eng.bool_aggs(
        [(1, {"must": [{"match": "beta gamma"}],
              "filter": [{"range": {"n_chars": {"gte": 150}}}]})],
        group_by="lang",
        metrics={"mx": ("max", "n_chars")},
    ).toPandas()
    flat = eng.bool_aggs(
        [(1, {"should": "beta gamma",
              "filter": [{"range": {"n_chars": {"gte": 150}}}]})],
        group_by="lang",
        metrics={"mx": ("max", "n_chars")},
    ).toPandas()
    got = out.sort_values("lang").reset_index(drop=True)
    want = flat.sort_values("lang").reset_index(drop=True)
    assert list(got.lang) == list(want.lang)
    assert list(got.doc_count) == list(want.doc_count)
    assert list(got.mx) == list(want.mx)


def test_named_queries_matched_per_hit(eng):
    """ES named queries: _name on any clause → a matched_queries
    array per hit (lexicographic order), computed from the SAME
    per-clause hash-agg columns — no extra pass. must_not names never
    appear on surviving docs; named clauses work in every role incl.
    filter context; unnamed batches keep the 4-column shape."""
    out = _p(eng.bool_topk([(1, {
        "must": [{"match": {"query": "alpha", "_name": "base"}}],
        "should": [
            {"match": {"query": "beta", "_name": "has_beta"}},
            {"bool": {"should": [{"match": "gamma"}, {"match": "delta"}],
                      "_name": "rare_pair"}},
            {"constant_score": {"filter": {"term": {"lang": "en"}},
                                "boost": 0.0, "_name": "english"}},
        ],
        "must_not": [{"match": {"query": "w59", "_name": "never"}}],
    })], k=60))
    assert "matched_queries" in out.columns
    for _, r in out.iterrows():
        d = int(r["doc_id"])
        want = ["base"]
        if d % 3 == 0:
            want.append("english")
        if d % 2 == 0:
            want.append("has_beta")
        if d % 5 == 0 or d % 7 == 0:
            want.append("rare_pair")
        assert list(r["matched_queries"]) == sorted(want), (d, r)
        assert "never" not in list(r["matched_queries"])
    assert 59 not in set(out["doc_id"])  # the must_not excluded doc
    # a filter-role named clause still reports (ES filter names appear)
    out2 = _p(eng.bool_topk([(1, {
        "must": [{"match": "alpha"}],
        "filter": [{"bool": {"filter": [{"term": {"lang": "de"}}],
                    "_name": "germans"}}],
    })], k=60))
    assert all(list(mq) == ["germans"] for mq in out2["matched_queries"])
    # no names anywhere → no matched_queries column (back-compat)
    plain = eng.bool_topk([(1, {"must": [{"match": "alpha"}]})], k=5)
    assert "matched_queries" not in plain.columns


def test_named_queries_dsl_route(eng):
    from xml_to_es_spark.operators.es_query import es_search

    out = es_search(eng, {"query": {"bool": {
        "must": [{"match": {"text": {"query": "alpha",
                                     "_name": "base"}}}],
        "should": [{"match": {"text": {"query": "beta",
                                       "_name": "has_beta"}}}],
    }}, "size": 10}).toPandas()
    assert "matched_queries" in out.columns
    for _, r in out.iterrows():
        want = (["base", "has_beta"] if int(r["doc_id"]) % 2 == 0
                else ["base"])
        assert list(r["matched_queries"]) == want


def test_literal_attach_bound_both_sides(eng, monkeypatch):
    """Both sides of the attach switch — the literal map expression up
    to ``QueryEngine._LITERAL_ATTACH_MAX`` (query, term) rows, the
    broadcast join above it — return identical rows for a flat
    structured bool, a rich tree with ``_name`` and ``terms_set``."""
    from xml_to_es_spark.plans import explain_str

    req = eng.spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(60), "req": [1 + i % 2 for i in range(60)]}
    ))

    def run():
        flat = eng.bool_topk([
            (1, {"must": "alpha", "should": "beta",
                 "filter": [{"term": {"lang": "en"}},
                            {"range": {"n_chars": {"gte": 150}}}]}),
            (2, {"should": "gamma delta", "must_not": "beta",
                 "filter": [{"terms": {"lang": ["de", "fr"]}}]}),
        ], k=60)
        rich = _p(eng.bool_topk([
            (3, {"must": [{"match": {"query": "alpha gamma", "_name": "ag"}}],
                 "should": [{"bool": {"should": [{"match": "delta"}],
                                      "_name": "inner"}}],
                 "filter": [{"term": {"lang": "en"}}]}),
        ], k=60))
        rich["matched_queries"] = rich["matched_queries"].map(tuple)
        tset = eng.terms_set_topk([(4, {
            "terms": ["alpha", "beta", "gamma"],
            "minimum_should_match_field": "req"})], k=60, docs=req)
        return explain_str(flat, "simple"), [_p(flat), rich, _p(tset)]

    plan_lit, default = run()
    monkeypatch.setattr(QueryEngine, "_LITERAL_ATTACH_MAX", 0)
    plan_bc, forced = run()
    assert "explode(element_at(map(" in plan_lit
    assert "explode(element_at(map(" not in plan_bc
    assert all(len(d) for d in default)
    assert any(set(mq) == {"ag", "inner"} for mq in default[1].matched_queries)
    for a, b in zip(default, forced):
        pd.testing.assert_frame_equal(
            a.drop(columns="score"), b.drop(columns="score")
        )
        np.testing.assert_allclose(a.score, b.score, rtol=1e-12)
