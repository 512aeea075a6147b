"""ES request-DSL entry point (es_search / es_msearch): a reference
user's ES search bodies route to the engine paths and return exactly
what the equivalent direct engine call returns."""

import numpy as np
import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.es_query import es_msearch, es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                f"alpha w{i} " + ("beta " * (i % 3)) + ("gamma" if i % 5 == 0 else "")
                for i in range(40)
            ],
            "lang": [["en", "de"][i % 2] for i in range(40)],
            "n_chars": [100 + 3 * i for i in range(40)],
        }
    )
    idx = str(tmp_path_factory.mktemp("dsl") / "idx")
    IndexBuilder(
        spark,
        IndexConfig(
            n_groups=2, store_positions=True,
            stored_fields=("lang", "n_chars"),
        ),
    ).build(spark.createDataFrame(pdf), idx)
    return QueryEngine(spark, idx)


def _same(a, b):
    a = a.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(a["doc_id"]) == list(b["doc_id"])
    np.testing.assert_allclose(a["score"], b["score"], rtol=0, atol=0)


def test_dsl_match_routes(eng):
    _same(
        es_search(eng, {"query": {"match": {"text": "alpha beta"}}, "size": 5}),
        eng.topk_wand([(0, "alpha beta")], k=5),
    )
    _same(
        es_search(eng, {"query": {"match": {"text": {
            "query": "alpha beta", "operator": "and"}}}, "size": 5}),
        eng.topk_distributed([(0, "alpha beta")], k=5, min_match="all"),
    )
    _same(
        es_search(eng, {"query": {"match": {"text": {
            "query": "alphq", "fuzziness": 1}}}, "size": 5}),
        eng.topk_wand([(0, "alphq")], k=5, fuzziness=1),
    )
    # from/size paging
    _same(
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "size": 5, "from": 5}),
        eng.topk_wand([(0, "alpha")], k=5, from_=5),
    )


def test_dsl_phrase_prefix_multimatch(eng):
    _same(
        es_search(eng, {"query": {"match_phrase": {"text": {
            "query": "alpha w3"}}}, "size": 5}),
        eng.phrase_topk([(0, "alpha w3")], k=5),
    )
    _same(
        es_search(eng, {"query": {"match_phrase": {"text": {
            "query": "w3 alpha", "slop": 2}}}, "size": 5}),
        eng.phrase_topk([(0, "w3 alpha")], k=5, slop=2),
    )
    _same(
        es_search(eng, {"query": {"match_bool_prefix": {"text": "alpha w1"}},
                        "size": 5}),
        eng.prefix_topk([(0, "alpha w1")], k=5),
    )


def test_dsl_bool_with_structured_filters(eng):
    body = {
        "query": {"bool": {
            "must": [{"match": {"text": "alpha"}}],
            "must_not": {"match": {"text": "gamma"}},
            "filter": [
                {"term": {"lang": "en"}},
                {"range": {"n_chars": {"gte": 120, "lt": 200}}},
                {"match": {"text": "beta"}},
            ],
        }},
        "size": 20,
    }
    want = eng.bool_topk(
        [(0, {"must": "alpha", "must_not": "gamma",
              "filter": [{"term": {"lang": "en"}},
                         {"range": {"n_chars": {"gte": 120, "lt": 200}}},
                         {"match": "beta"}]})],
        k=20,
    )
    _same(es_search(eng, body), want)
    # top-level structured query = match_all + filter
    got = es_search(eng, {"query": {"range": {"n_chars": {"lt": 110}}},
                          "size": 10}).toPandas()
    assert list(got["doc_id"]) == [0, 1, 2, 3]
    assert (got["score"] == 0.0).all()


def test_dsl_sort_aggs_cursor(eng):
    got = es_search(eng, {"query": {"match": {"text": "alpha"}},
                          "sort": [{"n_chars": {"order": "desc"}}],
                          "size": 3}).toPandas()
    assert list(got["doc_id"]) == [39, 38, 37]

    buckets = es_search(eng, {
        "query": {"match": {"text": "alpha"}},
        "aggs": {"langs": {"terms": {"field": "lang", "size": 1},
                           "aggs": {"mx": {"max": {"field": "n_chars"}}}}},
    }).toPandas()
    assert len(buckets) == 1 and buckets["doc_count"].iat[0] == 20

    p1 = es_search(eng, {"query": {"match": {"text": "alpha"}}, "size": 7})
    p1 = p1.toPandas().sort_values("rank")
    p2 = es_search(eng, {
        "query": {"match": {"text": "alpha"}}, "size": 7,
        "search_after": [float(p1.score.iat[-1]), int(p1.doc_id.iat[-1])],
    }).toPandas()
    assert not set(p2["doc_id"]) & set(p1["doc_id"])
    assert len(p2) == 7

    ms = es_msearch(eng, [
        {"query": {"match": {"text": "alpha"}}, "size": 4},
        {"query": {"match": {"text": "beta"}}, "size": 4},
    ]).toPandas()
    assert set(ms["query_id"]) == {0, 1}


def test_dsl_rejects_unknown(eng):
    with pytest.raises(ValueError, match="unsupported body key"):
        es_search(eng, {"query": {"match": {"text": "a"}}, "explain": True})
    # regexp (round 5) and more_like_this (late round 5) became
    # supported kinds — use a genuinely unsupported one
    with pytest.raises(ValueError, match="unsupported query kind"):
        es_search(eng, {"query": {"percolate": {"document": {}}}})
    with pytest.raises(ValueError, match="match_all"):
        es_search(eng, {"query": {"match_all": {}}})
    with pytest.raises(ValueError, match="unsupported match option"):
        es_search(eng, {"query": {"match": {"text": {
            "query": "a", "analyzer": "custom"}}}})


def test_dsl_ids_and_percent_min_match(eng):
    got = es_search(eng, {"query": {"ids": {"values": [3, 7, 11, 999]}},
                          "size": 10}).toPandas()
    assert list(got["doc_id"]) == [3, 7, 11]  # 999 not live
    assert (got["score"] == 0.0).all()

    # "50%" of a 2-token query = at least 1 token (ES floor rule)
    half = es_search(eng, {"query": {"match": {"text": {
        "query": "alpha gamma", "minimum_should_match": "50%"}}},
        "size": 40}).toPandas()
    both = es_search(eng, {"query": {"match": {"text": {
        "query": "alpha gamma", "operator": "and"}}}, "size": 40}).toPandas()
    assert set(both["doc_id"]) < set(half["doc_id"])
    assert len(half) == 40  # every doc has alpha


def test_dsl_simple_query_string(eng):
    got = es_search(eng, {"query": {"simple_query_string": {
        "query": "+alpha -gamma beta"}}, "size": 40})
    want = eng.bool_topk(
        [(0, {"must": "alpha", "must_not": "gamma", "should": "beta"})], k=40
    )
    _same(got, want)


def test_dsl_simple_query_string_quotes_and_groups(eng):
    """The full simple_query_string subset: quoted phrases route to
    match_phrase clauses in the bool tree, parenthesised (a | b)
    groups to nested bools; mixed with +/- operators."""
    got = es_search(eng, {"query": {"simple_query_string": {
        "query": '+"alpha w3" -gamma (beta | w7)'}}, "size": 40}).toPandas()
    # "alpha w3" as a phrase matches exactly doc 3 (w3 follows alpha);
    # doc 3 has no gamma (3 % 5 != 0) so it survives exclusion
    assert list(got.doc_id) == [3]
    want = es_search(eng, {"query": {"bool": {
        "must": [{"match_phrase": {"text": "alpha w3"}}],
        "must_not": [{"match": {"text": "gamma"}}],
        "should": [{"bool": {"should": [{"match": {"text": "beta"}},
                                        {"match": {"text": "w7"}}]}}],
    }}, "size": 40}).toPandas()
    assert list(got.doc_id) == list(want.doc_id)
    np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)
    for bad, msg in (
        ("a | b", "inside a"),
        ('"unterminated', "unterminated"),
        ("((a))", "nest"),
    ):
        with pytest.raises(ValueError, match=msg):
            es_search(eng, {"query": {"simple_query_string": {"query": bad}}})


def test_dsl_match_phrase_inside_bool(eng):
    """Real ES bodies nest match_phrase in bool — the phrase leaf
    evaluates over the full positional match set and scores the
    pinned phrase BM25 (× boost), here checked against the direct
    phrase_topk composition."""
    got = es_search(eng, {"query": {"bool": {
        "must": [{"match_phrase": {"text": {"query": "alpha w3",
                                            "boost": 2.0}}}],
    }}, "size": 10}).toPandas()
    ph = eng.phrase_topk([(0, "alpha w3")], k=10).toPandas()
    assert list(got.doc_id) == list(ph.doc_id)
    np.testing.assert_allclose(got.score, 2.0 * ph.score, rtol=1e-12)


def test_dsl_nothing_silently_ignored():
    """The round-4 ADVICE defects: search_after must be rejected on
    every kind that does not route it, fuzziness must not silently
    drop operator/minimum_should_match, and es_msearch must reject
    body keys it would otherwise drop."""
    from xml_to_es_spark.operators.es_query import EsRequest

    class _Eng:  # routing-only checks: no engine call is ever reached
        fielded = False

    sa = [1.5, 3]
    for q in (
        {"simple_query_string": {"query": "+a b"}},
        {"ids": {"values": [1]}},
        {"term": {"lang": "en"}},
    ):
        with pytest.raises(ValueError, match="search_after"):
            EsRequest(_Eng(), {"query": q, "search_after": sa})._hits()
    # cursor + sort is SUPPORTED since round 5 (sort-key cursors —
    # test_dsl_sort_search_after_cursor covers it, wrong arity
    # included); cursor + sort + from stays rejected
    with pytest.raises(ValueError, match="exclusive"):
        EsRequest(_Eng(), {
            "query": {"match": {"text": "a"}},
            "sort": [{"n_chars": {"order": "desc"}}],
            "search_after": sa, "from": 5,
        })._hits()
    # fuzziness + operator/minimum_should_match: AND must not run as OR
    for opt in ({"operator": "and"}, {"minimum_should_match": 2}):
        with pytest.raises(ValueError, match="fuzziness"):
            EsRequest(_Eng(), {"query": {"match": {"text": {
                "query": "a b", "fuzziness": 1, **opt}}}})._hits()


def test_msearch_rejects_unbatched_keys(eng):
    for key, val in (
        ("from", 5),
        ("search_after", [1.0, 2]),
        ("sort", [{"n_chars": {"order": "asc"}}]),
        ("aggs", {"l": {"terms": {"field": "lang"}}}),
        ("highlight", {}),
    ):
        with pytest.raises(ValueError, match="msearch body"):
            es_msearch(eng, [
                {"query": {"match": {"text": "alpha"}}, "size": 3},
                {"query": {"match": {"text": "beta"}}, "size": 3, key: val},
            ])


def test_fuzzy_cap_keeps_closest_variants(spark, tmp_path_factory):
    """Lucene FuzzyQuery keeps the top-N HIGHEST-SIMILARITY terms: the
    cap window orders by (edit distance, term), so a distance-0 /
    distance-1 variant is never evicted by lexicographically-earlier
    distance-2 terms (the round-4 ADVICE ordering defect)."""
    pdf = pd.DataFrame({
        "doc_id": range(30),
        # vocabulary: "zz" + filler; aa..ax are distance 2 from "zz"
        # and sort BEFORE it — term-order capping would evict "zz"
        "text": [f"a{chr(97 + i)} zz filler" for i in range(24)] + ["zz"] * 6,
    })
    idx = str(tmp_path_factory.mktemp("fuzcap") / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=1)).build(
        spark.createDataFrame(pdf), idx
    )
    e = QueryEngine(spark, idx)
    got = e.fuzzy_variants(["zz"], fuzziness=2, max_expansions=3)
    assert "zz" in got["zz"]  # the exact term survives any cap


def test_dsl_nested_bool_routes(eng):
    """Nested bool bodies, per-clause boost, and bool-level
    minimum_should_match route onto the engine's rich tree path and
    return exactly what the equivalent direct call returns."""
    body = {"query": {"bool": {
        "should": [
            {"bool": {"must": [{"match": {"text": "alpha"}},
                               {"match": {"text": "beta"}}]}},
            {"match": {"text": {"query": "gamma", "boost": 2.0}}},
        ],
        "filter": [{"range": {"n_chars": {"gte": 120}}}],
    }}, "size": 15}
    want = eng.bool_topk([(0, {
        "should": [
            {"bool": {"must": [{"match": "alpha"}, {"match": "beta"}]}},
            {"match": {"query": "gamma", "boost": 2.0}},
        ],
        "filter": [{"range": {"n_chars": {"gte": 120}}}],
    })], k=15)
    _same(es_search(eng, body), want)

    # bool-level minimum_should_match (previously rejected)
    body2 = {"query": {"bool": {
        "should": [{"match": {"text": "beta"}}, {"match": {"text": "gamma"}},
                   {"match": {"text": "w3"}}],
        "minimum_should_match": 2,
    }}, "size": 30}
    want2 = eng.bool_topk([(0, {
        "should": [{"match": "beta"}, {"match": "gamma"}, {"match": "w3"}],
        "minimum_should_match": 2,
    })], k=30)
    _same(es_search(eng, body2), want2)

    # a multi-token match clause under must ORs its tokens (ES), it
    # does not silently require all of them
    got = es_search(eng, {"query": {"bool": {
        "must": [{"match": {"text": "beta gamma"}}]}}, "size": 40}).toPandas()
    either = es_search(eng, {"query": {"match": {"text": "beta gamma"}},
                             "size": 40}).toPandas()
    assert set(got["doc_id"]) == set(either["doc_id"])


def test_dsl_bool_cursor(eng):
    """search_after now routes on bool bodies (rank-anchored)."""
    body = {"query": {"bool": {"should": [{"match": {"text": "beta"}},
                                          {"match": {"text": "gamma"}}]}},
            "size": 8}
    full = es_search(eng, {**body, "size": 16}).toPandas().sort_values("rank")
    p1 = full.iloc[:8]
    p2 = es_search(eng, {**body, "search_after": [
        float(p1.score.iat[-1]), int(p1.doc_id.iat[-1])]}).toPandas()
    assert list(p2.sort_values("rank")["doc_id"]) == list(full.iloc[8:16]["doc_id"])


def test_dsl_highlight_fragments(spark, tmp_path_factory):
    """highlight with fragment_size + number_of_fragments returns an
    ARRAY of windows that advance through the doc (multi-fragment ES
    plain-highlighter shape); options also accepted under the ES
    fields-nested form; unknown options raise."""
    pdf = pd.DataFrame({
        "doc_id": range(8),
        "text": [
            ("needle starts here " + "x" * 100 + " needle again later "
             + "y" * 50) if i % 2 == 0 else "no match at all " + "z" * 60
            for i in range(8)
        ],
    })
    idx = str(tmp_path_factory.mktemp("hl") / "idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, store_source=True)
    ).build(spark.createDataFrame(pdf), idx)
    e = QueryEngine(spark, idx)
    body = {"query": {"match": {"text": "needle"}}, "size": 8,
            "highlight": {"fields": {"text": {
                "fragment_size": 40, "number_of_fragments": 2}}}}
    got = es_search(e, body).toPandas()
    assert len(got) == 4  # only the needle docs match
    for frags in got["snippet"]:
        assert len(frags) == 2  # both occurrences found
        assert all("needle" in f for f in frags)
        assert all(len(f) <= 40 for f in frags)
    # flat option form, single fragment → plain string column
    one = es_search(e, {"query": {"match": {"text": "needle"}}, "size": 2,
                        "highlight": {"fragment_size": 30}}).toPandas()
    assert isinstance(one["snippet"].iat[0], str)
    with pytest.raises(ValueError, match="unsupported highlight"):
        es_search(e, {"query": {"match": {"text": "needle"}},
                      "highlight": {"boundary_chars": ".,"}})
    # pre_tags/post_tags: ES term marking, opt-in (default unmarked)
    marked = es_search(e, {"query": {"match": {"text": "needle"}},
                           "size": 2, "highlight": {
                               "fragment_size": 30,
                               "pre_tags": ["<em>"]}}).toPandas()
    assert all("<em>needle</em>" in s for s in marked["snippet"])
    marked2 = es_search(e, {"query": {"match": {"text": "needle"}},
                            "size": 2, "highlight": {
                                "fragment_size": 40,
                                "number_of_fragments": 2,
                                "pre_tags": "[[", "post_tags": "]]"}}
                        ).toPandas()
    for frags in marked2["snippet"]:
        assert all("[[needle]]" in f for f in frags)
    # round-5: highlight works on bool / query_string / dis_max bodies
    # (terms gathered from the SCORING clauses of the compiled tree)
    bq = {"query": {"bool": {
        "must": [{"match": {"text": "needle"}}],
        "should": [{"match": {"text": "later"}}],
    }}, "size": 4, "highlight": {"fragment_size": 30}}
    got = es_search(e, bq).toPandas()
    assert len(got) == 4
    assert all(("needle" in s) or ("later" in s) for s in got["snippet"])
    qs = {"query": {"query_string": {"query": "needle AND later"}},
          "size": 4, "highlight": {"fragment_size": 30}}
    got = es_search(e, qs).toPandas()
    assert len(got) == 4 and all("needle" in s or "later" in s
                                 for s in got["snippet"])
    dm = {"query": {"dis_max": {"queries": [
        {"match": {"text": "needle"}}, {"match": {"text": "again"}},
    ]}}, "size": 4, "highlight": {"fragment_size": 30}}
    assert len(es_search(e, dm).toPandas()) == 4
    # a filter-only query has nothing to mark
    with pytest.raises(ValueError, match="no scoring text clauses"):
        es_search(e, {"query": {"bool": {
            "filter": [{"exists": {"field": "doc_id"}}],
            "must": [{"constant_score": {
                "filter": {"exists": {"field": "doc_id"}}}}],
        }}, "size": 2, "highlight": {}})


def test_msearch_batches_simple_query_string(eng):
    """A simple_query_string body list runs as ONE batched bool_topk
    call and returns, per body, exactly what es_search returns for
    that body (batch-translation identity, quotes and groups
    included)."""
    texts = ['+alpha -gamma ("beta" | w3)', '"alpha w1" beta', "+beta -w2"]
    ms = es_msearch(eng, [
        {"query": {"simple_query_string": {"query": t}}, "size": 6}
        for t in texts
    ]).toPandas()
    assert set(ms["query_id"]) <= {0, 1, 2} and len(ms)
    for i, t in enumerate(texts):
        one = es_search(
            eng, {"query": {"simple_query_string": {"query": t}}, "size": 6}
        ).toPandas().sort_values("rank").reset_index(drop=True)
        got = (
            ms[ms.query_id == i]
            .drop(columns=["query_id"])
            .sort_values("rank")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, one.drop(columns=["query_id"]), check_dtype=False
        )
    # mixed kinds and per-body options still reject
    with pytest.raises(ValueError, match="share one query kind"):
        es_msearch(eng, [
            {"query": {"simple_query_string": {"query": "alpha"}}},
            {"query": {"match": {"text": "beta"}}},
        ])
    with pytest.raises(ValueError, match="share the fields option"):
        es_msearch(eng, [
            {"query": {"simple_query_string": {"query": "alpha",
                                               "fields": ["text"]}}},
            {"query": {"simple_query_string": {"query": "beta"}}},
        ])


def test_dsl_sort_multi_field_and_kinds(eng):
    """sort accepts a list of fields applied in order, and works on
    bool / ids / structured query kinds (routed over the bool match
    set); unsupported kinds still reject."""
    body = {"query": {"match": {"text": "alpha"}}, "size": 10,
            "sort": [{"lang": {"order": "asc"}},
                     {"n_chars": {"order": "desc"}}]}
    got = es_search(eng, body).toPandas().sort_values("rank")
    docs = es_search(
        eng, {"query": {"match": {"text": "alpha"}}, "size": 40}
    ).toPandas()
    assert len(got) == 10
    # verify the multi-key order against the engine's own doc values
    dv = eng.spark.createDataFrame(
        [(i, ["en", "de"][i % 2], 100 + 3 * i) for i in range(40)],
        schema="doc_id long, lang string, n_chars long",
    ).toPandas().set_index("doc_id")
    keys = [(dv.loc[d, "lang"], -dv.loc[d, "n_chars"], d)
            for d in got["doc_id"]]
    assert keys == sorted(keys)
    assert set(got["doc_id"]) <= set(docs["doc_id"])
    # bool kind
    b = es_search(eng, {
        "query": {"bool": {"must": {"match": {"text": "alpha"}},
                           "filter": [{"term": {"lang": "en"}}]}},
        "size": 5, "sort": [{"n_chars": {"order": "asc"}}],
    }).toPandas().sort_values("rank")
    bkeys = [dv.loc[d, "n_chars"] for d in b["doc_id"]]
    assert bkeys == sorted(bkeys)
    assert all(dv.loc[d, "lang"] == "en" for d in b["doc_id"])
    # ids kind
    i = es_search(eng, {
        "query": {"ids": {"values": [3, 1, 7, 2]}},
        "size": 4, "sort": [{"n_chars": {"order": "desc"}}],
    }).toPandas().sort_values("rank")
    assert list(i["doc_id"]) == [7, 3, 2, 1]
    # structured kind
    r = es_search(eng, {
        "query": {"range": {"n_chars": {"gte": 190}}},
        "size": 3, "sort": [{"n_chars": {"order": "asc"}}],
    }).toPandas().sort_values("rank")
    assert list(r["doc_id"]) == [30, 31, 32]
    with pytest.raises(ValueError, match="sort-by-field supports"):
        es_search(eng, {"query": {"match_phrase": {"text": "alpha w1"}},
                        "sort": [{"n_chars": {"order": "asc"}}]})
    with pytest.raises(ValueError, match="_score inside a sort list"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "sort": [{"n_chars": {"order": "asc"}}, "_score"]})


def test_dsl_sort_search_after_cursor(eng):
    """search_after beside sort carries [sort-key values..., doc_id]
    (the ES deep-pagination cursor): cursor pages tile the full
    multi-field ordering exactly, ties included, and a wrong-arity
    cursor raises."""
    body = {"query": {"match": {"text": "alpha"}}, "size": 40,
            "sort": [{"lang": {"order": "asc"}},
                     {"n_chars": {"order": "desc"}}]}
    full = es_search(eng, body).toPandas().sort_values("rank")
    dv = eng.spark.createDataFrame(
        [(i, ["en", "de"][i % 2], 100 + 3 * i) for i in range(40)],
        schema="doc_id long, lang string, n_chars long",
    ).toPandas().set_index("doc_id")
    pages, cursor = [], None
    for _ in range(5):
        b = {**body, "size": 9}
        if cursor is not None:
            b["search_after"] = cursor
        page = es_search(eng, b).toPandas().sort_values("rank")
        if not len(page):
            break
        pages.append(page)
        last = int(page.doc_id.iat[-1])
        cursor = [dv.loc[last, "lang"], int(dv.loc[last, "n_chars"]), last]
    got = pd.concat(pages)["doc_id"].tolist()
    assert got == full["doc_id"].tolist()
    with pytest.raises(ValueError, match="one value per sort field"):
        es_search(eng, {**body, "search_after": [1.0, 2]}).toPandas()
    # bool kind pages the same way
    bb = {"query": {"bool": {"must": {"match": {"text": "alpha"}}}},
          "size": 40, "sort": [{"n_chars": {"order": "asc"}}]}
    bfull = es_search(eng, bb).toPandas().sort_values("rank")
    p1 = es_search(eng, {**bb, "size": 25}).toPandas().sort_values("rank")
    last = int(p1.doc_id.iat[-1])
    p2 = es_search(eng, {**bb, "size": 25, "search_after": [
        int(dv.loc[last, "n_chars"]), last]}).toPandas().sort_values("rank")
    assert p1["doc_id"].tolist() + p2["doc_id"].tolist() == bfull["doc_id"].tolist()


def test_es_count_and_collapse(eng):
    """es_count returns match-set cardinality per query kind (zero
    rows still produce total 0); collapse keeps one best hit per doc
    value over the FULL match set, ranks the survivors, and rejects
    unsupported combinations."""
    from xml_to_es_spark.operators.es_query import es_count

    # every doc matches "alpha"; 40 docs
    c = es_count(eng, {"query": {"match": {"text": "alpha"}}}).toPandas()
    assert c.total.iat[0] == 40
    # beta appears in docs with i%3 in (1,2) → 26 docs
    assert es_count(eng, {"query": {"match": {"text": "beta"}}}).toPandas().total.iat[0] == 26
    # and-match requires both
    assert es_count(eng, {"query": {"match": {
        "text": {"query": "alpha gamma", "operator": "and"}}}}).toPandas().total.iat[0] == 8
    # phrase, bool, structured, ids, zero-hit
    assert es_count(eng, {"query": {"match_phrase": {"text": "alpha w1"}}}).toPandas().total.iat[0] == 1
    assert es_count(eng, {"query": {"bool": {
        "must": {"match": {"text": "alpha"}},
        "must_not": {"match": {"text": "gamma"}}}}}).toPandas().total.iat[0] == 32
    assert es_count(eng, {"query": {"range": {"n_chars": {"gte": 190}}}}).toPandas().total.iat[0] == 10
    assert es_count(eng, {"query": {"ids": {"values": [1, 2, 99]}}}).toPandas().total.iat[0] == 2
    assert es_count(eng, {"query": {"match": {"text": "zzznothing"}}}).toPandas().total.iat[0] == 0
    with pytest.raises(ValueError, match="_count takes a query only"):
        es_count(eng, {"query": {"match": {"text": "alpha"}}, "size": 5})

    # collapse on lang: 2 groups → 2 hits max, each the group's best
    full = es_search(eng, {"query": {"match": {"text": "beta"}},
                           "size": 40}).toPandas()
    col = es_search(eng, {"query": {"match": {"text": "beta"}},
                          "size": 10,
                          "collapse": {"field": "lang"}}).toPandas()
    assert len(col) == 2 and set(col["lang"]) == {"en", "de"}
    # each collapsed hit is the best-scoring member of its group
    best = full.loc[full.groupby(full.doc_id % 2).score.idxmax()]
    assert set(col["doc_id"]) == set(best["doc_id"])
    with pytest.raises(ValueError, match="collapse beside"):
        es_search(eng, {"query": {"match": {"text": "beta"}},
                        "collapse": {"field": "lang"},
                        "sort": [{"n_chars": {"order": "asc"}}]})


def test_dsl_track_total_hits(eng):
    """track_total_hits returns the page PLUS the full match-set size
    (the ES hits.total), equal to what _count reports; page contents
    match the plain search."""
    from xml_to_es_spark.operators.es_query import es_count

    body = {"query": {"match": {"text": "beta"}}, "size": 5,
            "track_total_hits": True}
    got = es_search(eng, body).toPandas()
    n = es_count(eng, {"query": {"match": {"text": "beta"}}}).toPandas().total.iat[0]
    assert len(got) == 5 and set(got["total"]) == {n}
    plain = es_search(eng, {"query": {"match": {"text": "beta"}},
                            "size": 5}).toPandas()
    assert list(got.sort_values("rank").doc_id) == list(
        plain.sort_values("rank").doc_id)
    with pytest.raises(ValueError, match="track_total_hits beside"):
        es_search(eng, {**body, "sort": [{"n_chars": {"order": "asc"}}]})


def test_dsl_wildcard_regexp_constant_score_fuzzy(eng):
    """wildcard/regexp expand against the terms dictionary and match
    at CONSTANT score (the ES multi-term rewrite); constant_score
    wraps any bool-expressible filter at score=boost; the fuzzy kind
    routes to the scoring fuzzy-match path."""
    # w1, w10..w19 start with w1 → 'w1*' matches docs 1 and 10..19
    got = es_search(eng, {"query": {"wildcard": {"text": "w1*"}},
                          "size": 40}).toPandas()
    assert set(got["doc_id"]) == {1} | set(range(10, 20))
    assert (got["score"] == 1.0).all()
    b = es_search(eng, {"query": {"wildcard": {"text": {
        "value": "w?", "boost": 2.5}}}, "size": 40}).toPandas()
    assert set(b["doc_id"]) == set(range(10))  # w0..w9 only
    assert (b["score"] == 2.5).all()
    # regexp is anchored: w[0-9] matches only single-digit terms
    r = es_search(eng, {"query": {"regexp": {"text": "w[0-9]"}},
                        "size": 40}).toPandas()
    assert set(r["doc_id"]) == set(range(10))
    # zero expansions → zero hits, no error
    assert len(es_search(eng, {"query": {"wildcard": {"text": "zz*"}},
                               "size": 5}).toPandas()) == 0
    with pytest.raises(ValueError, match="analyzer alphabet"):
        es_search(eng, {"query": {"wildcard": {"text": "a%b"}}})
    # constant_score over a structured filter
    cs = es_search(eng, {"query": {"constant_score": {
        "filter": {"range": {"n_chars": {"gte": 214}}},
        "boost": 3.0}}, "size": 10}).toPandas()
    assert list(cs["doc_id"]) == [38, 39] and (cs["score"] == 3.0).all()
    # fuzzy kind ≡ match + fuzziness
    fz = es_search(eng, {"query": {"fuzzy": {"text": {
        "value": "alphq", "fuzziness": 1}}}, "size": 5})
    want = es_search(eng, {"query": {"match": {"text": {
        "query": "alphq", "fuzziness": 1}}}, "size": 5})
    _same(fz, want)


def test_es_bulk(spark, tmp_path_factory):
    """ES _bulk NDJSON: mixed index/create/delete actions apply with
    last-write-wins per id as one upsert + one delete batch; create
    on a live id raises (the ES 409); update is rejected."""
    import json

    from xml_to_es_spark.operators.es_query import es_bulk

    pdf = pd.DataFrame({
        "doc_id": range(6), "text": [f"alpha w{i}" for i in range(6)]
    })
    idx = str(tmp_path_factory.mktemp("bulk") / "idx")
    b = IndexBuilder(spark, IndexConfig(n_groups=1))
    b.build(spark.createDataFrame(pdf), idx)
    eng = QueryEngine(spark, idx)

    nd = "\n".join([
        json.dumps({"index": {"_id": 1}}),
        json.dumps({"text": "omega replacement"}),
        json.dumps({"delete": {"_id": 2}}),
        json.dumps({"index": {"_id": 9}}),
        json.dumps({"text": "omega nine"}),
        json.dumps({"delete": {"_id": 9}}),     # last-wins: 9 ends deleted
        json.dumps({"index": {"_id": 3}}),
        json.dumps({"text": "alpha w3"}),       # unchanged content
        json.dumps({"delete": {"_id": 77}}),    # never existed
    ])
    res = es_bulk(b, idx, nd)
    assert res["indexed"] == 1 and res["unchanged"] == 1
    assert res["deleted"] == 1 and res["not_found"] == 2  # 9 and 77
    hits = QueryEngine(spark, idx).topk([(1, "omega")], k=5).toPandas()
    assert list(hits["doc_id"]) == [1]
    assert QueryEngine(spark, idx).bool_count(
        [(0, {"must": [{"match": "alpha"}]})]
    ).toPandas().total.iat[0] == 4  # 0,3,4,5 (1 replaced, 2 deleted)
    # create on a live id → 409; on a fresh id → ok
    with pytest.raises(ValueError, match="already exist"):
        es_bulk(b, idx, [{"create": {"_id": 3, "doc": {"text": "x"}}}])
    ok = es_bulk(b, idx, [{"create": {"_id": 50, "doc": {"text": "brand new"}}}])
    assert ok["indexed"] == 1
    with pytest.raises(ValueError, match="update is not supported"):
        es_bulk(b, idx, [{"update": {"_id": 1, "doc": {"text": "y"}}}])


def test_es_mget(spark, tmp_path_factory):
    """_mget returns the live stored version per requested id with a
    found flag (missing ids reported, not dropped); deleted docs read
    as not found."""
    from xml_to_es_spark.operators.es_query import es_mget

    pdf = pd.DataFrame({
        "doc_id": range(5), "text": [f"alpha w{i}" for i in range(5)]
    })
    idx = str(tmp_path_factory.mktemp("mget") / "idx")
    b = IndexBuilder(spark, IndexConfig(n_groups=1, store_source=True))
    b.build(spark.createDataFrame(pdf), idx)
    b.delete_docs([2], idx)
    got = es_mget(QueryEngine(spark, idx),
                  {"ids": [0, 2, 4, 99]}).toPandas().set_index("doc_id")
    assert got.loc[0, "found"] and got.loc[4, "found"]
    assert not got.loc[2, "found"] and not got.loc[99, "found"]
    assert got.loc[4, "text"] == "alpha w4"
    d = es_mget(QueryEngine(spark, idx),
                {"docs": [{"_id": 1}]}).toPandas()
    assert d.found.iat[0]
    with pytest.raises(ValueError, match="_mget takes"):
        es_mget(QueryEngine(spark, idx), {"ids": [1], "docs": []})


def test_es_alias_search(spark, tmp_path_factory):
    """Alias search merges per-index pages into one exact global
    top-k (per-index statistics — the ES cross-index default); hits
    carry the index name; unsupported body keys reject."""
    from xml_to_es_spark.operators.es_query import es_alias_search

    root = tmp_path_factory.mktemp("alias")
    dirs = []
    # per-doc length variation makes three score levels per index;
    # equal levels tie across indexes and the deterministic
    # (score, index, doc_id) merge interleaves both
    for n, tag in (("idx_a", "aa"), ("idx_b", "bb")):
        pdf = pd.DataFrame({
            "doc_id": range(8),
            "text": [f"alpha {tag} w{i}" + " pad" * (i % 3)
                     for i in range(8)],
        })
        d = str(root / n)
        IndexBuilder(spark, IndexConfig(n_groups=1)).build(
            spark.createDataFrame(pdf), d)
        dirs.append(d)
    body = {"query": {"match": {"text": "alpha"}}, "size": 6}
    got = es_alias_search(spark, dirs, body).toPandas().sort_values("rank")
    assert len(got) == 6 and set(got["index"]) == {"idx_a", "idx_b"}
    # exact merge: equals manually merging the per-index pages
    a = es_search(QueryEngine(spark, dirs[0]), body).toPandas()
    b = es_search(QueryEngine(spark, dirs[1]), body).toPandas()
    a["index"], b["index"] = "idx_a", "idx_b"
    manual = (
        pd.concat([a, b])
        .sort_values(["score", "index", "doc_id"],
                     ascending=[False, True, True])
        .head(6)
    )
    assert list(got["doc_id"]) == list(manual["doc_id"])
    assert list(got["index"]) == list(manual["index"])
    # per-index stats: the 'bb' term exists only in idx_b
    only_b = es_alias_search(
        spark, dirs, {"query": {"match": {"text": "bb"}}, "size": 5}
    ).toPandas()
    assert set(only_b["index"]) == {"idx_b"}
    with pytest.raises(ValueError, match="indices_boost only"):
        es_alias_search(spark, dirs, {**body, "from": 5})
    # indices_boost: per-index score multiplier BEFORE the merge
    boosted = es_alias_search(
        spark, dirs, {**body, "indices_boost": [{"idx_b": 3.0}]}
    ).toPandas().sort_values("rank")
    b3 = b.copy()
    b3["score"] = b3["score"] * 3.0
    manual3 = (
        pd.concat([a, b3])
        .sort_values(["score", "index", "doc_id"],
                     ascending=[False, True, True])
        .head(6)
    )
    assert list(boosted["doc_id"]) == list(manual3["doc_id"])
    assert list(boosted["index"]) == list(manual3["index"])
    np.testing.assert_allclose(boosted["score"], manual3["score"],
                               rtol=0, atol=0)
    with pytest.raises(ValueError, match="unknown index"):
        es_alias_search(spark, dirs,
                        {**body, "indices_boost": {"nope": 2.0}})


def test_post_filter(eng):
    """ES post_filter: the page is top-k of query ∧ filter, scored by
    the query alone — identical docs and scores to the same docs'
    positions in a bool query with the filter folded in; and the aggs
    path ignores post_filter entirely (the ES faceting contract)."""
    body = {"query": {"match": {"text": "alpha beta"}},
            "post_filter": {"term": {"lang": "en"}}, "size": 8}
    out = es_search(eng, body).toPandas()
    ref = es_search(eng, {
        "query": {"bool": {"must": [{"match": {"text": "alpha beta"}}],
                           "filter": [{"term": {"lang": "en"}}]}},
        "size": 8}).toPandas()
    assert list(out["doc_id"]) == list(ref["doc_id"])
    np.testing.assert_allclose(out["score"], ref["score"], rtol=0, atol=0)
    assert all(d % 2 == 0 for d in out["doc_id"])  # lang == en
    # unfiltered query scores are preserved on the surviving docs
    base = {int(r["doc_id"]): r["score"] for _, r in es_search(
        eng, {"query": {"match": {"text": "alpha beta"}}, "size": 40}
    ).toPandas().iterrows()}
    for _, r in out.iterrows():
        assert abs(r["score"] - base[int(r["doc_id"])]) < 1e-12
    # bool post_filter body with must_not; range clause
    out2 = es_search(eng, {
        "query": {"match": {"text": "alpha"}},
        "post_filter": {"bool": {
            "filter": [{"range": {"n_chars": {"gte": 130}}}],
            "must_not": [{"term": {"lang": "de"}}]}},
        "size": 8}).toPandas()
    assert len(out2) == 8
    for _, r in out2.iterrows():
        d = int(r["doc_id"])
        assert 100 + 3 * d >= 130 and d % 2 == 0
    # aggs ignore post_filter: same buckets with and without
    a1 = es_search(eng, {"query": {"match": {"text": "alpha"}},
                         "aggs": {"l": {"terms": {"field": "lang"}}}})
    a2 = es_search(eng, {"query": {"match": {"text": "alpha"}},
                         "post_filter": {"term": {"lang": "en"}},
                         "aggs": {"l": {"terms": {"field": "lang"}}}})
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    # scoring clauses inside post_filter raise
    with pytest.raises(ValueError, match="filter context"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "post_filter": {"bool": {
                            "must": [{"match": {"text": "beta"}}]}},
                        "size": 3})
    with pytest.raises(ValueError, match="not supported"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "post_filter": {"term": {"lang": "en"}},
                        "sort": [{"n_chars": {"order": "asc"}}], "size": 3})


def test_min_score(eng):
    """ES min_score: hits below the cutoff are excluded; the cutoff
    truncates the page (scores are rank-monotone, so exclusions are a
    ranking suffix); rejected beside sort / track_total_hits."""
    full = es_search(eng, {"query": {"match": {"text": "alpha beta"}},
                           "size": 40}).toPandas()
    cut = float(full["score"].iloc[min(9, len(full) - 1)])
    out = es_search(eng, {"query": {"match": {"text": "alpha beta"}},
                          "size": 40, "min_score": cut}).toPandas()
    exp = full[full["score"] >= cut]
    assert list(out["doc_id"]) == list(exp["doc_id"])
    # deep page truncation: from_ past the cutoff returns only rows
    # above it
    out2 = es_search(eng, {"query": {"match": {"text": "alpha beta"}},
                           "size": 40, "from": 5, "min_score": cut}).toPandas()
    assert list(out2["doc_id"]) == list(exp["doc_id"])[5:]
    with pytest.raises(ValueError, match="min_score beside"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "min_score": 0.1,
                        "sort": [{"n_chars": {"order": "asc"}}], "size": 3})


def test_terms_set(spark, eng, tmp_path):
    """ES terms_set: a doc matches when it holds at least
    minimum_should_match_field(doc) of the supplied terms — threshold
    from the doc's own stored value, matched count and BM25 score on
    one agg row."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    texts = ["red green blue", "red green", "red", "yellow red green blue",
             "green blue", "pink"]
    req = [1, 2, 3, 2, 2, 1]
    pdf = pd.DataFrame({"doc_id": range(6), "text": texts, "req": req})
    idx = str(tmp_path / "tsx")
    IndexBuilder(spark, IndexConfig(n_groups=1, stored_fields=("req",))
                 ).build(spark.createDataFrame(pdf), idx)
    e = QueryEngine(spark, idx)
    terms = ["red", "green", "blue"]
    out = e.terms_set_topk(
        [(0, {"terms": terms, "minimum_should_match_field": "req"})], k=10
    ).toPandas()
    matched = {i: len(set(terms) & set(t.split())) for i, t in enumerate(texts)}
    want = {i for i in range(6) if matched[i] >= max(req[i], 1) and matched[i]}
    assert set(out.doc_id) == want
    # DSL route returns the same page
    d = es_search(e, {"query": {"terms_set": {"text": {
        "terms": terms, "minimum_should_match_field": "req"}}},
        "size": 10}).toPandas()
    assert list(d.doc_id) == list(out.doc_id)
    np.testing.assert_allclose(d.score, out.score, rtol=0, atol=0)
    # corpus-absent terms count for nothing; threshold floors at 1
    out2 = e.terms_set_topk(
        [(0, {"terms": ["zzz", "pink"], "minimum_should_match_field": "req"})],
        k=10).toPandas()
    assert set(out2.doc_id) == {5}
    with pytest.raises(ValueError, match="terms_set"):
        es_search(e, {"query": {"terms_set": {"text": {
            "terms": terms, "minimum_should_match_script": "x"}}}, "size": 2})


def test_pinned_and_match_none(eng):
    """ES pinned query: given ids rank first in the given order above
    every organic hit (organic excludes them); match_none returns an
    empty page."""
    from xml_to_es_spark.operators.es_query import (_PINNED_SCORE,
                                                     _PINNED_STEP)

    base = es_search(eng, {"query": {"match": {"text": "alpha beta"}},
                           "size": 10}).toPandas()
    organic_ids = list(base.doc_id)
    pins = [int(organic_ids[3]), 39]  # one organic hit + one outside
    out = es_search(eng, {"query": {"pinned": {
        "ids": pins,
        "organic": {"match": {"text": "alpha beta"}}}},
        "size": 6}).toPandas()
    assert list(out.doc_id[:2]) == pins
    assert out.score.iloc[0] == _PINNED_SCORE
    assert out.score.iloc[1] == _PINNED_SCORE - _PINNED_STEP
    # organic tail: the base ranking minus pinned ids
    want_tail = [d for d in organic_ids if d not in pins][:4]
    assert list(out.doc_id[2:]) == want_tail
    # a dead/unknown pinned id is skipped, not invented
    out2 = es_search(eng, {"query": {"pinned": {
        "ids": [9999, pins[0]],
        "organic": {"match": {"text": "alpha beta"}}}},
        "size": 3}).toPandas()
    assert list(out2.doc_id[:1]) == [pins[0]]
    with pytest.raises(ValueError, match="unique"):
        es_search(eng, {"query": {"pinned": {
            "ids": [1, 1], "organic": {"match": {"text": "alpha"}}}},
            "size": 3})
    none = es_search(eng, {"query": {"match_none": {}}, "size": 5})
    assert none.count() == 0 and "score" in none.columns


def test_field_caps(eng):
    from xml_to_es_spark.operators.es_query import es_field_caps

    caps = es_field_caps(eng)["fields"]
    assert caps["text"] == {"type": "text", "searchable": True,
                            "aggregatable": False}
    assert caps["n_chars"]["type"] == "long"
    assert caps["lang"] == {"type": "keyword", "searchable": False,
                            "aggregatable": True}
    assert caps["doc_id"]["searchable"] is True
    assert "text_md5" not in caps


def test_rank_feature(eng):
    """ES rank_feature: matched = positive feature doc value; score =
    boost · fn(value) (saturation/log/sigmoid), usable standalone and
    as a bool should clause beside BM25 scoring."""
    # standalone: every doc has positive n_chars; saturation ranks by
    # n_chars desc (x/(x+p) is monotone)
    out = es_search(eng, {"query": {"rank_feature": {
        "field": "n_chars", "saturation": {"pivot": 150.0}}},
        "size": 3}).toPandas()
    assert list(out.doc_id) == [39, 38, 37]
    for _, r in out.iterrows():
        x = 100 + 3 * int(r.doc_id)
        assert abs(r.score - x / (x + 150.0)) < 1e-12
    # log and sigmoid value checks + boost
    lg = es_search(eng, {"query": {"rank_feature": {
        "field": "n_chars", "log": {"scaling_factor": 2.0},
        "boost": 3.0}}, "size": 1}).toPandas()
    import math
    assert abs(lg.score.iloc[0] - 3.0 * math.log(2.0 + 217)) < 1e-12
    sg = es_search(eng, {"query": {"rank_feature": {
        "field": "n_chars", "sigmoid": {"pivot": 150.0, "exponent": 2.0}}},
        "size": 1}).toPandas()
    assert abs(sg.score.iloc[0]
               - 217.0**2 / (217.0**2 + 150.0**2)) < 1e-12
    # inside a bool: BM25 + feature (the relevance+popularity shape)
    base = {int(r.doc_id): r.score for _, r in es_search(
        eng, {"query": {"match": {"text": "beta"}}, "size": 40}
    ).toPandas().iterrows()}
    combo = es_search(eng, {"query": {"bool": {
        "must": [{"match": {"text": "beta"}}],
        "should": [{"rank_feature": {"field": "n_chars",
                                     "saturation": {"pivot": 150.0}}}],
    }}, "size": 40}).toPandas()
    assert set(combo.doc_id) == set(base)  # should never widens a must set
    for _, r in combo.iterrows():
        x = 100 + 3 * int(r.doc_id)
        assert abs(r.score - (base[int(r.doc_id)] + x / (x + 150.0))) < 1e-9
    # filter context scores 0; validation
    fc = es_search(eng, {"query": {"bool": {
        "filter": [{"rank_feature": {"field": "n_chars",
                                     "saturation": {"pivot": 150.0}}}],
    }}, "size": 3}).toPandas()
    assert (fc.score == 0.0).all() and list(fc.doc_id) == [0, 1, 2]
    with pytest.raises(ValueError, match="rank_feature"):
        es_search(eng, {"query": {"rank_feature": {"field": "n_chars"}},
                        "size": 2})
    with pytest.raises(ValueError, match="exactly"):
        es_search(eng, {"query": {"rank_feature": {
            "field": "n_chars", "saturation": {}}}, "size": 2})


def test_span_queries(eng):
    """ES span subset: span_term, ordered slop-0 span_near (phrase),
    and span_first (occurrence must end at position <= end, filtered
    inside the positional kernel)."""
    # span_term == single-token phrase
    st = es_search(eng, {"query": {"span_term": {"text": "w3"}},
                         "size": 5}).toPandas()
    assert list(st.doc_id) == [3]
    # span_near ordered/slop0 == phrase
    sn = es_search(eng, {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "alpha"}},
                    {"span_term": {"text": "w3"}}],
        "in_order": True, "slop": 0}}, "size": 5}).toPandas()
    assert list(sn.doc_id) == [3]
    # span_first: "alpha" is position 0 in every doc (end pos 1);
    # "w3" is position 1 in doc 3 (end pos 2)
    sf1 = es_search(eng, {"query": {"span_first": {
        "match": {"span_term": {"text": "w3"}}, "end": 1}},
        "size": 5}).toPandas()
    assert len(sf1) == 0
    sf2 = es_search(eng, {"query": {"span_first": {
        "match": {"span_term": {"text": "w3"}}, "end": 2}},
        "size": 5}).toPandas()
    assert list(sf2.doc_id) == [3]
    sfa = es_search(eng, {"query": {"span_first": {
        "match": {"span_term": {"text": "alpha"}}, "end": 1}},
        "size": 40}).toPandas()
    assert len(sfa) == 40  # alpha leads every doc
    # span_first over a span_near phrase: "alpha w3" spans [0,2)
    sfp = es_search(eng, {"query": {"span_first": {
        "match": {"span_near": {
            "clauses": [{"span_term": {"text": "alpha"}},
                        {"span_term": {"text": "w3"}}],
            "in_order": True}}, "end": 2}}, "size": 5}).toPandas()
    assert list(sfp.doc_id) == [3]
    with pytest.raises(ValueError, match="span_near supports"):
        es_search(eng, {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "alpha"}}],
            "in_order": False}}, "size": 2})


def test_track_scores_validation(eng):
    """track_scores is never silently ignored: valid only beside sort
    and only as true (sort pages always carry the score column)."""
    ok = es_search(eng, {"query": {"match": {"text": "alpha"}},
                         "sort": [{"n_chars": {"order": "asc"}}],
                         "track_scores": True, "size": 3}).toPandas()
    assert "score" in ok.columns and len(ok) == 3
    with pytest.raises(ValueError, match="beside sort"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "track_scores": True, "size": 3})
    with pytest.raises(ValueError, match="track_scores=false"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "sort": [{"n_chars": {"order": "asc"}}],
                        "track_scores": False, "size": 3})


def test_pinned_deep_page(eng):
    """Round-6 ADVICE fix: `from` past the live-pin count must still
    return a full page (the organic leg is fetched from+k deep)."""
    base = es_search(eng, {"query": {"match": {"text": "alpha beta"}},
                           "size": 20}).toPandas()
    organic_ids = list(base.doc_id)
    pins = [int(organic_ids[5]), int(organic_ids[9])]
    body = {"query": {"pinned": {
        "ids": pins, "organic": {"match": {"text": "alpha beta"}}}}}
    out = es_search(eng, {**body, "from": 4, "size": 5}).toPandas()
    # the merged ranking is pins then organic-minus-pins; page 4..9
    want_full = pins + [d for d in organic_ids if d not in pins]
    assert list(out.doc_id) == want_full[4:9]
    assert list(out["rank"]) == [5, 6, 7, 8, 9]
    # from=0 unchanged
    out0 = es_search(eng, {**body, "size": 4}).toPandas()
    assert list(out0.doc_id) == want_full[:4]


def test_dsl_bool_filter_multi_token_match_is_or(spark, tmp_path_factory):
    """A multi-token ``match`` under ``filter`` ORs its tokens, as ES
    does: the flat filter translation used to AND them, so this body
    matched doc 2 only, while the same clause wrapped in a nested bool
    (the rich form) matched docs 0-2."""
    pdf = pd.DataFrame({
        "doc_id": range(4),
        "text": ["alpha hash", "alpha join", "alpha hash join", "alpha other"],
    })
    idx = str(tmp_path_factory.mktemp("dsl_filter_or") / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=1)).build(
        spark.createDataFrame(pdf), idx
    )
    e = QueryEngine(spark, idx)
    clause = {"match": {"text": "hash join"}}
    flat = es_search(e, {"query": {"bool": {
        "must": [{"match": {"text": "alpha"}}], "filter": [clause]}},
        "size": 10}).toPandas()
    nested = es_search(e, {"query": {"bool": {
        "must": [{"match": {"text": "alpha"}}],
        "filter": [{"bool": {"must": [clause]}}]}},
        "size": 10}).toPandas()
    assert sorted(flat.doc_id) == sorted(nested.doc_id) == [0, 1, 2]
    # filter context: the score is the must clause's alone
    np.testing.assert_allclose(
        flat.sort_values("doc_id").score, nested.sort_values("doc_id").score
    )


def test_dsl_bool_should_beside_filter_is_optional(spark, tmp_path_factory):
    """``should`` beside a ``filter`` and no ``must`` is optional, as in
    ES (default minimum_should_match 0): a doc matching only the
    filter comes back at score 0. The flat translation kept one should
    clause required beside structured filters, so this body returned
    docs 0 and 2 only."""
    pdf = pd.DataFrame({
        "doc_id": range(4),
        "text": ["alpha hash", "beta join", "alpha other", "beta hash"],
        "lang": ["en", "en", "en", "de"],
    })
    idx = str(tmp_path_factory.mktemp("dsl_should_filter") / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=1, stored_fields=("lang",))).build(
        spark.createDataFrame(pdf), idx
    )
    e = QueryEngine(spark, idx)
    got = es_search(e, {"query": {"bool": {
        "should": [{"match": {"text": "alpha"}}],
        "filter": [{"term": {"lang": "en"}}]}},
        "size": 10}).toPandas()
    assert list(got.doc_id) == [0, 2, 1]
    assert got.score.iloc[0] > 0 and got.score.iloc[1] > 0
    assert got.score.iloc[2] == 0.0
