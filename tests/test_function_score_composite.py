"""ES function_score (doc-value re-weighting of the bool match set)
and the composite aggregation (key-ordered, cursor-paginated buckets).
Twins: pandas recomputation of the same formulas over the engine's own
full scored match set / the raw corpus."""

import math

import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine

CFG = IndexConfig(
    n_groups=2, salt_threshold=40, n_salts=3, block_size=32,
    stored_fields=("lang", "n_chars"),
)

LANGS = ["en", "de", "fr"]


def _corpus(n=48):
    rows = []
    for i in range(n):
        toks = ["alpha", f"w{i}"]
        if i % 2 == 0:
            toks.append("even")
        if i % 5 == 0:
            toks.append("five")
        rows.append((i, " ".join(toks), LANGS[i % 3], 80 + 37 * (i % 11)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars"])


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fscomp")
    pdf = _corpus()
    path = str(root / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(pdf), path)
    return pdf, path


def _scored(eng, spec):
    df = eng.bool_topk([(0, spec)], k=10_000).toPandas()
    return df.set_index("doc_id")["score"].to_dict()


FVF = {"field_value_factor": {"field": "n_chars", "factor": 0.01,
                              "modifier": "log1p", "missing": 1.0}}
WFLT = {"weight": 2.0, "filter": {"term": {"lang": "de"}}}
GAUSS = {"gauss": {"n_chars": {"origin": 200, "scale": 120,
                               "offset": 10, "decay": 0.5}}}


def _py_functions(row, which=("fvf", "wflt", "gauss")):
    """(match, value, weight) per requested function, same specs."""
    out = []
    for w in which:
        if w == "fvf":
            out.append((True, math.log10(1.0 + 0.01 * row.n_chars), 1.0))
        elif w == "wflt":
            out.append((row.lang == "de", 1.0, 2.0))
        else:
            sigma2 = -(120.0 ** 2) / (2.0 * math.log(0.5))
            dist = max(abs(row.n_chars - 200.0) - 10.0, 0.0)
            out.append((True, math.exp(-(dist * dist) / (2.0 * sigma2)), 1.0))
    return out


def _combine(fns, mode):
    m = [(v * w, w) for ok, v, w in fns if ok]
    if not m:
        return None
    if mode == "multiply":
        out = 1.0
        for v, _ in m:
            out *= v
        return out
    if mode == "sum":
        return sum(v for v, _ in m)
    if mode == "avg":
        return sum(v for v, _ in m) / sum(w for _, w in m)
    if mode == "max":
        return max(v for v, _ in m)
    if mode == "min":
        return min(v for v, _ in m)
    return m[0][0]  # first


def _twin_topk(scores, pdf, score_mode, boost_mode, k=8,
               max_boost=None, min_score=None,
               which=("fvf", "wflt", "gauss")):
    rows = []
    for _, row in pdf.iterrows():
        if row.doc_id not in scores:
            continue
        s = scores[row.doc_id]
        fn = _combine(_py_functions(row, which), score_mode)
        if fn is None:
            final = s
        else:
            if max_boost is not None:
                fn = min(fn, max_boost)
            final = {
                "multiply": s * fn, "replace": fn, "sum": s + fn,
                "avg": (s + fn) / 2.0, "max": max(s, fn),
                "min": min(s, fn),
            }[boost_mode]
        if min_score is not None and final < min_score:
            continue
        rows.append((row.doc_id, final))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


@pytest.mark.parametrize("score_mode", ["multiply", "sum", "avg", "max",
                                        "min", "first"])
def test_function_score_modes(spark, idx, score_mode):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "alpha even"}
    got = eng.function_score_topk(
        [(0, spec)], [FVF, WFLT, GAUSS], k=8, score_mode=score_mode,
    ).toPandas()
    want = _twin_topk(_scored(eng, spec), pdf, score_mode, "multiply")
    assert list(got.doc_id) == [d for d, _ in want]
    for (d, s), gs in zip(want, got.score):
        assert gs == pytest.approx(s, rel=1e-12)


@pytest.mark.parametrize("boost_mode", ["replace", "sum", "avg", "max",
                                        "min"])
def test_function_score_boost_modes(spark, idx, boost_mode):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "alpha"}
    got = eng.function_score_topk(
        [(0, spec)], [FVF, GAUSS], k=8, score_mode="sum",
        boost_mode=boost_mode,
    ).toPandas()
    want = _twin_topk(_scored(eng, spec), pdf, "sum", boost_mode,
                      which=("fvf", "gauss"))
    assert list(got.doc_id) == [d for d, _ in want]
    for (d, s), gs in zip(want, got.score):
        assert gs == pytest.approx(s, rel=1e-12)


def test_function_score_no_match_keeps_query_score(spark, idx):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "alpha"}
    scores = _scored(eng, spec)
    got = eng.function_score_topk(
        [(0, spec)], [{"weight": 9.0, "filter": {"term": {"lang": "xx"}}}],
        k=1000, score_mode="sum", boost_mode="multiply",
    ).toPandas()
    assert len(got) == len(scores)
    for _, r in got.iterrows():
        assert r.score == pytest.approx(scores[r.doc_id], rel=1e-12)


def test_function_score_max_boost_and_min_score(spark, idx):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "alpha"}
    scores = _scored(eng, spec)
    got = eng.function_score_topk(
        [(0, spec)], [FVF, WFLT], k=1000, score_mode="sum",
        max_boost=1.5, min_score=0.002,
    ).toPandas()
    want = _twin_topk(scores, pdf, "sum", "multiply", k=10_000,
                      max_boost=1.5, min_score=0.002,
                      which=("fvf", "wflt"))
    assert list(got.doc_id) == [d for d, _ in want]
    assert got.score.min() >= 0.002


def test_function_score_exp_linear_decay(spark, idx):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "five"}
    scores = _scored(eng, spec)
    for kind in ("exp", "linear"):
        got = eng.function_score_topk(
            [(0, spec)],
            [{kind: {"n_chars": {"origin": 150, "scale": 100,
                                 "decay": 0.3}}}],
            k=1000, boost_mode="multiply",
        ).toPandas()
        for _, r in got.iterrows():
            x = float(pdf.loc[pdf.doc_id == r.doc_id, "n_chars"].iloc[0])
            dist = abs(x - 150.0)
            if kind == "exp":
                f = math.exp(math.log(0.3) / 100.0 * dist)
            else:
                s = 100.0 / (1.0 - 0.3)
                f = max(0.0, (s - dist) / s)
            assert r.score == pytest.approx(scores[r.doc_id] * f, rel=1e-12)


def test_function_score_validation(spark, idx):
    _, path = idx
    eng = QueryEngine(spark, path)
    q = [(0, {"must": "alpha"})]
    with pytest.raises(ValueError, match="missing"):
        eng.function_score_topk(
            q, [{"field_value_factor": {"field": "n_chars"}}])
    with pytest.raises(ValueError, match="modifier"):
        eng.function_score_topk(
            q, [{"field_value_factor": {"field": "n_chars",
                                        "modifier": "cube",
                                        "missing": 1}}])
    with pytest.raises(ValueError, match="structured"):
        eng.function_score_topk(
            q, [{"weight": 2.0, "filter": {"match": "alpha"}}])
    with pytest.raises(ValueError, match="score function"):
        eng.function_score_topk(q, [{"script_score": {"script": "x"}}])
    with pytest.raises(ValueError, match="score_mode"):
        eng.function_score_topk(q, [FVF], score_mode="median")
    with pytest.raises(ValueError, match="at least one"):
        eng.function_score_topk(q, [])


# -- composite aggregation ------------------------------------------------

SOURCES = [
    {"lg": {"terms": {"field": "lang"}}},
    {"cb": {"histogram": {"field": "n_chars", "interval": 100,
                          "order": "desc"}}},
]


def _comp_twin(scores, pdf):
    m = pdf[pdf.doc_id.isin(scores)].copy()
    m["cb"] = (m.n_chars // 100) * 100
    g = (
        m.groupby(["lang", "cb"])
        .agg(doc_count=("doc_id", "size"), mx=("n_chars", "max"))
        .reset_index()
        .rename(columns={"lang": "lg"})
    )
    g = g.sort_values(["lg", "cb"], ascending=[True, False])
    return list(g.itertuples(index=False))


def test_composite_pages_tile_the_bucket_list(spark, idx):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "alpha"}
    want = _comp_twin(_scored(eng, spec), pdf)
    size, after, got = 3, None, []
    for _ in range(40):
        page = eng.composite_aggs(
            [(0, spec)], SOURCES, size=size, after=after,
            metrics={"mx": ("max", "n_chars")},
        ).toPandas().sort_values(["lg", "cb"], ascending=[True, False])
        if page.empty:
            break
        got += list(
            page[["lg", "cb", "doc_count", "mx"]].itertuples(index=False)
        )
        last = page.iloc[-1]
        after = {0: (last["lg"], int(last["cb"]))}
        if len(page) < size:
            break
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_composite_desc_then_asc_orders(spark, idx):
    pdf, path = idx
    eng = QueryEngine(spark, path)
    spec = {"must": "even"}
    srcs = [
        {"lg": {"terms": {"field": "lang", "order": "desc"}}},
        {"cb": {"histogram": {"field": "n_chars", "interval": 100}}},
    ]
    got = eng.composite_aggs([(0, spec)], srcs, size=1000).toPandas()
    m = pdf[pdf.doc_id.isin(_scored(eng, spec))].copy()
    m["cb"] = (m.n_chars // 100) * 100
    want = (
        m.groupby(["lang", "cb"]).size().reset_index(name="doc_count")
        .sort_values(["lang", "cb"], ascending=[False, True])
    )
    assert list(zip(got.lg, got.cb, got.doc_count)) == list(
        zip(want.lang, want.cb, want.doc_count)
    )


def test_dsl_function_score_parity(spark, idx):
    from xml_to_es_spark.operators.es_query import es_search

    _, path = idx
    eng = QueryEngine(spark, path)
    body = {"query": {"function_score": {
        "query": {"match": {"text": "alpha even"}},
        "functions": [FVF, WFLT, GAUSS],
        "score_mode": "sum", "boost_mode": "multiply",
    }}, "size": 8}
    got = es_search(eng, body).toPandas()
    want = eng.function_score_topk(
        [(0, {"must": [{"match": {"query": "alpha even",
                                  "operator": "or"}}]})],
        [FVF, WFLT, GAUSS], k=8, score_mode="sum",
    ).toPandas()
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.score) == list(want.score)


def test_dsl_function_score_inline_and_errors(spark, idx):
    from xml_to_es_spark.operators.es_query import es_search

    _, path = idx
    eng = QueryEngine(spark, path)
    inline = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "gauss": {"n_chars": {"origin": 200, "scale": 120,
                              "offset": 10, "decay": 0.5}},
        "weight": 2.0,
    }}, "size": 5}
    got = es_search(eng, inline).toPandas()
    want = eng.function_score_topk(
        [(0, {"must": [{"match": {"query": "alpha",
                                  "operator": "or"}}]})],
        [{"gauss": GAUSS["gauss"], "weight": 2.0}], k=5,
    ).toPandas()
    assert list(got.doc_id) == list(want.doc_id)
    with pytest.raises(ValueError, match="inner query"):
        es_search(eng, {"query": {"function_score": {
            "functions": [FVF]}}})
    with pytest.raises(ValueError, match="not both"):
        es_search(eng, {"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            "functions": [FVF], "weight": 2.0}}})
    with pytest.raises(ValueError, match="search_after"):
        es_search(eng, {"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            "functions": [FVF]}},
            "search_after": [1.0, 3]})


def test_dsl_composite_parity_and_after(spark, idx):
    from xml_to_es_spark.operators.es_query import es_search

    _, path = idx
    eng = QueryEngine(spark, path)
    body = {"query": {"match": {"text": "alpha"}},
            "aggs": {"page": {"composite": {
                "sources": SOURCES, "size": 3},
                "aggs": {"mx": {"max": {"field": "n_chars"}}}}}}
    p1 = es_search(eng, body).toPandas().sort_values(
        ["lg", "cb"], ascending=[True, False])
    want = eng.composite_aggs(
        [(0, {"must": [{"match": {"query": "alpha",
                                  "operator": "or"}}]})],
        SOURCES, size=3, metrics={"mx": ("max", "n_chars")},
    ).toPandas().sort_values(["lg", "cb"], ascending=[True, False])
    assert list(zip(p1.lg, p1.cb, p1.doc_count, p1.mx)) == list(
        zip(want.lg, want.cb, want.doc_count, want.mx))
    last = p1.iloc[-1]
    body2 = {"query": {"match": {"text": "alpha"}},
             "aggs": {"page": {"composite": {
                 "sources": SOURCES, "size": 3,
                 "after": {"lg": last["lg"], "cb": int(last["cb"])}}}}}
    p2 = es_search(eng, body2).toPandas()
    assert len(p2) == 3
    assert all((p2.lg > last["lg"]) | ((p2.lg == last["lg"])
                                       & (p2.cb < last["cb"])))
    with pytest.raises(ValueError, match="source names"):
        es_search(eng, {"query": {"match": {"text": "alpha"}},
                        "aggs": {"page": {"composite": {
                            "sources": SOURCES, "after": {"zz": 1}}}}})


def test_composite_validation(spark, idx):
    _, path = idx
    eng = QueryEngine(spark, path)
    q = [(0, {"must": "alpha"})]
    with pytest.raises(ValueError, match="terms/histogram"):
        eng.composite_aggs(
            q, [{"r": {"range": {"field": "n_chars",
                                 "ranges": [{"to": 100}]}}}])
    with pytest.raises(ValueError, match="collide"):
        eng.composite_aggs(
            q, [{"a": {"terms": {"field": "lang"}}},
                {"a": {"terms": {"field": "n_chars"}}}])
    with pytest.raises(ValueError, match="one value per source"):
        eng.composite_aggs(
            q, SOURCES, after={0: ("en",)})
    with pytest.raises(ValueError, match="order"):
        eng.composite_aggs(
            q, [{"a": {"terms": {"field": "lang", "order": "up"}}}])


def test_script_score(spark, idx):
    """Round-6 ES script_score: the painless arithmetic-literal subset
    over _score / doc values / params vs a pandas twin; full-set
    re-rank (a 1/_score script inverts the inner ranking)."""
    import math

    import numpy as np
    import pytest

    from xml_to_es_spark.operators.es_query import es_search

    pdf, path = idx
    e = QueryEngine(spark, path)
    base = es_search(e, {"query": {"match": {"text": "alpha"}},
                         "size": 100}).toPandas()
    nch = dict(zip(pdf.doc_id, pdf.n_chars))
    body = {"query": {"script_score": {
        "query": {"match": {"text": "alpha"}},
        "script": {
            "source": "_score * Math.log(doc['n_chars'].value) / params.d",
            "params": {"d": 2.0}},
    }}, "size": 100}
    got = es_search(e, body).toPandas()
    want = sorted(
        ((d, s * math.log(nch[d]) / 2.0)
         for d, s in zip(base.doc_id, base.score)),
        key=lambda x: (-x[1], x[0]),
    )
    assert list(got.doc_id) == [d for d, _ in want]
    np.testing.assert_allclose(got.score, [s for _, s in want], rtol=1e-9)
    # inversion: 1/_score reverses the base ranking (ties aside)
    inv = es_search(e, {"query": {"script_score": {
        "query": {"match": {"text": "alpha"}},
        "script": "1.0 / _score"}}, "size": 100}).toPandas()
    want_inv = sorted(((d, 1.0 / s) for d, s in zip(base.doc_id, base.score)),
                      key=lambda x: (-x[1], x[0]))
    assert list(inv.doc_id) == [d for d, _ in want_inv]
    # Painless spellings: whitespace before the paren, Math.log10 → SQL
    # log10 (never ln10)
    for src, fn in (("_score * Math.log (doc['n_chars'].value)", math.log),
                    ("_score * Math.log10(doc['n_chars'].value)", math.log10),
                    ("_score * Math.sqrt\t(doc['n_chars'].value)", math.sqrt)):
        got = es_search(e, {"query": {"script_score": {
            "query": {"match": {"text": "alpha"}}, "script": src}},
            "size": 100}).toPandas()
        want = sorted(((d, s * fn(nch[d]))
                       for d, s in zip(base.doc_id, base.score)),
                      key=lambda x: (-x[1], x[0]))
        assert list(got.doc_id) == [d for d, _ in want], src
        np.testing.assert_allclose(got.score, [s for _, s in want], rtol=1e-9)
    # rejection matrix: anything outside the whitelist raises the
    # documented ValueError before analysis
    for bad in ["doc['n_chars'].value; import os", "_score ** 2",
                "System.exit(0)", "params.zzz + 1",
                "Math.log1p(doc['n_chars'].value)",
                "Math.pow(_score, 2)", "_score // 2",
                "Math.sqrt2 * _score"]:
        with pytest.raises(ValueError):
            es_search(e, {"query": {"script_score": {
                "query": {"match": {"text": "alpha"}},
                "script": bad}}, "size": 5})
    with pytest.raises(ValueError, match="query \\+ script"):
        es_search(e, {"query": {"script_score": {
            "query": {"match": {"text": "alpha"}},
            "script": "_score", "boost": 2.0}}, "size": 5})
