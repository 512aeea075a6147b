"""Sub-bucket aggregations (one nesting level, flattened composite
keys), the ES range/filters bucket kinds (multi-membership via an
in-plan exploded matched-keys array), and the stats/percentile
metrics — engine surface + ES DSL routing."""

import pandas as pd
import pytest

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.es_query import es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine

N = 60


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "doc_id": range(N),
            "text": [
                ("alpha beta " if i % 2 == 0 else "alpha gamma ") + f"w{i}"
                for i in range(N)
            ],
            "lang": [["en", "de", "fr"][i % 3] for i in range(N)],
            "n_chars": [100 + 5 * i for i in range(N)],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(days=i)
                   for i in range(N)],
        }
    )
    idx = str(tmp_path_factory.mktemp("aggs2") / "idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=2, stored_fields=("lang", "n_chars", "ts"))
    ).build(spark.createDataFrame(pdf), idx)
    return QueryEngine(spark, idx), pdf


def test_nested_buckets_and_stats(eng):
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")],
        group_by=[{"terms": {"field": "lang"}},
                  {"histogram": {"field": "n_chars", "interval": 100}}],
        metrics={"st": ("stats", "n_chars"),
                 "p50": ("percentile", "n_chars", 50)},
    ).toPandas()
    assert {"st_count", "st_min", "st_max", "st_avg", "st_sum", "p50"} <= set(
        out.columns
    )
    # composite buckets partition the match set (scalar kinds)
    assert out.doc_count.sum() == N
    cell = out[(out.lang == "en") & (out.n_chars_bucket == 100)]
    want = [x for i, x in enumerate(pdf.n_chars) if i % 3 == 0 and x < 200]
    assert int(cell.st_count.iloc[0]) == len(want)
    assert int(cell.st_sum.iloc[0]) == sum(want)
    assert float(cell.st_avg.iloc[0]) == sum(want) / len(want)


def test_range_buckets_multi_membership(eng):
    """ES range semantics: from-inclusive, to-exclusive, a doc counted
    in EVERY range it matches (overlap costs rows, not a second
    scan)."""
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")],
        group_by={"range": {"field": "n_chars", "ranges": [
            {"key": "low", "to": 200},
            {"key": "mid", "from": 150, "to": 300},
            {"key": "high", "from": 300},
        ]}},
    ).toPandas()
    got = dict(zip(out.n_chars_range, out.doc_count))
    assert got == {
        "low": sum(1 for x in pdf.n_chars if x < 200),
        "mid": sum(1 for x in pdf.n_chars if 150 <= x < 300),
        "high": sum(1 for x in pdf.n_chars if x >= 300),
    }


def test_filters_buckets(eng):
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")],
        group_by={"filters": {"filters": {
            "german": {"term": {"lang": "de"}},
            "big": {"range": {"n_chars": {"gte": 250}}},
        }}},
        metrics={"mx": ("max", "n_chars")},
    ).toPandas()
    got = dict(zip(out.filter_bucket, out.doc_count))
    assert got == {
        "german": N // 3,
        "big": sum(1 for x in pdf.n_chars if x >= 250),
    }


def test_dsl_nested_and_new_buckets(eng):
    e, _pdf = eng
    body = {"query": {"match": {"text": "alpha"}},
            "aggs": {"byl": {"terms": {"field": "lang", "size": 4},
                             "aggs": {"byc": {
                                 "histogram": {"field": "n_chars",
                                               "interval": 100},
                                 "aggs": {"st": {"stats":
                                                 {"field": "n_chars"}}}}}}}}
    d = es_search(e, body).toPandas()
    assert "st_avg" in d.columns and len(d) == 4  # size ranks composites
    body2 = {"query": {"match": {"text": "alpha"}},
             "aggs": {"r": {"range": {"field": "n_chars", "ranges": [
                 {"key": "low", "to": 200}, {"key": "high", "from": 200}]},
                 "aggs": {"p": {"percentiles": {"field": "n_chars",
                                                "percents": [50]}}}}}}
    d2 = es_search(e, body2).toPandas()
    assert set(d2.n_chars_range) == {"low", "high"} and "p" in d2.columns
    with pytest.raises(ValueError, match="sub-bucket"):
        es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"a": {"terms": {"field": "lang"},
                                     "aggs": {"b": {"terms": {
                                         "field": "lang", "size": 2}}}}}})


def test_extended_stats_percentile_rank_value_count_missing(eng):
    """Round-5 metric additions: extended_stats (population variance,
    the ES default), percentile_ranks (percent of values ≤ v, exact),
    value_count (NON-distinct, the ES semantics), and the missing agg
    as a per-bucket metric."""
    import numpy as np

    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")], group_by="lang",
        metrics={
            "xs": ("extended_stats", "n_chars"),
            "pr": ("percentile_rank", "n_chars", 200),
            "vc": ("count", "n_chars"),
            "mi": ("missing", "lang"),
        },
    ).toPandas().set_index("lang")
    for lg in ("en", "de", "fr"):
        vals = np.array([
            x for i, x in enumerate(pdf.n_chars)
            if ["en", "de", "fr"][i % 3] == lg
        ], dtype=float)
        row = out.loc[lg]
        assert int(row["xs_count"]) == len(vals)
        assert abs(row["xs_sum_of_squares"] - (vals ** 2).sum()) < 1e-6
        assert abs(row["xs_variance"] - vals.var()) < 1e-6      # population
        assert abs(row["xs_std_deviation"] - vals.std()) < 1e-6
        assert abs(row["pr"] - 100.0 * (vals <= 200).mean()) < 1e-9
        assert int(row["vc"]) == len(vals)  # counts values, not distinct
        assert int(row["mi"]) == 0
    # DSL routing for the same four
    body = {"query": {"match": {"text": "alpha"}},
            "aggs": {"byl": {"terms": {"field": "lang"},
                             "aggs": {
                                 "xs": {"extended_stats":
                                        {"field": "n_chars"}},
                                 "pr": {"percentile_ranks":
                                        {"field": "n_chars",
                                         "values": [200]}},
                                 "vc": {"value_count":
                                        {"field": "n_chars"}},
                                 "mi": {"missing": {"field": "lang"}},
                             }}}}
    d = es_search(e, body).toPandas()
    assert {"xs_variance", "xs_std_deviation", "xs_sum_of_squares",
            "pr", "vc", "mi"} <= set(d.columns)
    assert int(d["vc"].sum()) == N  # every doc counted once, not distinct


def test_bucket_validation(eng):
    e, _pdf = eng
    with pytest.raises(ValueError, match="nesting level"):
        e.search_aggs([(1, "alpha")], group_by=["lang", "lang", "lang"])
    with pytest.raises(ValueError, match="collide"):
        e.search_aggs([(1, "alpha")], group_by=["lang", "lang"])
    with pytest.raises(ValueError, match="from/to"):
        e.search_aggs([(1, "alpha")], group_by={
            "range": {"field": "n_chars", "ranges": [{"key": "x"}]}})
    with pytest.raises(ValueError, match="unsupported fn"):
        e.search_aggs([(1, "alpha")], group_by="lang",
                      metrics={"m": ("median", "n_chars")})


def test_rare_terms_multi_terms_auto_date_histogram(eng, spark):
    """Round-5 bucket kinds: rare_terms (anti-top-N, doc_count ≤
    max_doc_count filter on the agg), multi_terms (ES tuple-keyed
    bucket ≡ the composite group-by), auto_date_histogram (per-query
    adaptive calendar interval from one bounded min/max probe)."""
    import pandas as pd

    e, pdf = eng
    # rare_terms over a synthetic skewed column via docs=
    from pyspark.sql import functions as F

    dv = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(N),
        "tag": ["common" if i % 2 == 0 else f"rare{i % 5}"
                for i in range(N)],
        "warc_ts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta([3 * i for i in range(N)], unit="D"),
        "n_chars": [100 + 5 * i for i in range(N)],
    }))
    out = e.search_aggs(
        [(1, "alpha")], group_by={"rare_terms": {
            "field": "tag", "max_doc_count": 8}}, docs=dv,
    ).toPandas()
    from collections import Counter

    counts = Counter(["common" if i % 2 == 0 else f"rare{i % 5}"
                      for i in range(N)])
    want = {t for t, c in counts.items() if c <= 8}
    assert set(out["tag"]) == want
    assert (out["doc_count"] <= 8).all()
    # multi_terms through the DSL ≡ engine composite group-by
    from xml_to_es_spark.operators.es_query import es_search

    d = es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"mt": {"multi_terms": {"terms": [
                          {"field": "lang"}, {"field": "n_chars"}]}}}}
                  ).toPandas()
    twin = e.search_aggs([(0, "alpha")],
                         group_by=["lang", "n_chars"]).toPandas()
    assert len(d) == len(twin) == N  # every (lang, n_chars) cell unique
    # auto_date_histogram: 60 docs spanning ~177 days, target 10
    # buckets → month is the finest fitting calendar interval
    out2 = e.search_aggs(
        [(1, "alpha")], group_by={"auto_date_histogram": {
            "field": "warc_ts", "buckets": 10}}, docs=dv,
    ).toPandas()
    assert set(out2["interval"]) == {"month"}
    assert len(out2) <= 10 and out2["doc_count"].sum() == N
    # widening the target picks a finer interval
    out3 = e.search_aggs(
        [(1, "alpha")], group_by={"auto_date_histogram": {
            "field": "warc_ts", "buckets": 200}}, docs=dv,
    ).toPandas()
    assert set(out3["interval"]) == {"day"}
    assert len(out3) == N  # 3-day spacing: one bucket per doc
    # DSL routes + validation
    d2 = es_search(e, {"query": {"match": {"text": "alpha"}},
                       "aggs": {"r": {"rare_terms": {
                           "field": "lang", "max_doc_count": 5}}}}
                   ).toPandas()
    assert len(d2) == 0  # every lang has 20 docs > 5
    with pytest.raises(ValueError, match="multi_terms"):
        es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"m": {"multi_terms": {
                          "terms": [{"field": "lang"}]}}}})


def test_date_range_buckets(eng):
    """ES date_range: range semantics (from inclusive, to exclusive,
    multi-membership) with date-literal bounds over a timestamp doc
    value."""
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")],
        group_by={"date_range": {"field": "ts", "ranges": [
            {"key": "jan", "from": "2024-01-01", "to": "2024-02-01"},
            {"key": "late", "from": "2024-01-20"},
        ]}},
    ).toPandas()
    jan = sum(1 for t in pdf.ts if t < pd.Timestamp("2024-02-01"))
    late = sum(1 for t in pdf.ts if t >= pd.Timestamp("2024-01-20"))
    got = dict(zip(out.ts_range, out.doc_count))
    assert got == {"jan": jan, "late": late}
    # DSL
    d = es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"r": {"date_range": {"field": "ts", "ranges": [
                          {"key": "jan", "from": "2024-01-01",
                           "to": "2024-02-01"}]}}}}).toPandas()
    assert dict(zip(d.ts_range, d.doc_count)) == {"jan": jan}


def test_adjacency_matrix(eng):
    """ES adjacency_matrix: one bucket per matching named filter plus
    one per matching ordered pair a&b — generated in-plan from the
    matched-names array."""
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")],
        group_by={"adjacency_matrix": {"filters": {
            "en": {"term": {"lang": "en"}},
            "cheap": {"range": {"n_chars": {"lt": 250}}},
        }}},
    ).toPandas()
    en = sum(1 for i in range(N) if i % 3 == 0)
    cheap = sum(1 for c in pdf.n_chars if c < 250)
    both = sum(1 for i in range(N) if i % 3 == 0 and 100 + 5 * i < 250)
    got = dict(zip(out.adjacency_bucket, out.doc_count))
    assert got == {"en": en, "cheap": cheap, "cheap&en": both}
    # DSL route + name validation
    d = es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"m": {"adjacency_matrix": {"filters": {
                          "en": {"term": {"lang": "en"}},
                          "cheap": {"range": {"n_chars": {"lt": 250}}},
                      }}}}}).toPandas()
    assert dict(zip(d.adjacency_bucket, d.doc_count)) == got
    with pytest.raises(ValueError, match="cannot contain"):
        e.search_aggs([(1, "alpha")], group_by={"adjacency_matrix": {
            "filters": {"a&b": {"term": {"lang": "en"}}}}}).collect()


def test_global_and_sampler_aggs(eng):
    """ES global (bucket agg over every live doc, query ignored by
    semantics) and sampler (agg over the top-shard_size scored docs)."""
    e, pdf = eng
    g = e.global_aggs({"terms": {"field": "lang"}},
                      metrics={"mx": ("max", "n_chars")}).toPandas()
    assert g.doc_count.sum() == N
    for lang in ("en", "de", "fr"):
        want = [c for i, c in enumerate(pdf.n_chars)
                if ["en", "de", "fr"][i % 3] == lang]
        row = g[g.lang == lang]
        assert int(row.doc_count.iloc[0]) == len(want)
        assert int(row.mx.iloc[0]) == max(want)
    # DSL: global ignores the query (the ES contract)
    d1 = es_search(e, {"query": {"match": {"text": "beta"}},
                       "aggs": {"all": {"global": {}, "aggs": {
                           "l": {"terms": {"field": "lang"}}}}}}).toPandas()
    assert d1.doc_count.sum() == N
    # sampler: only the best shard_size docs feed the agg
    s = e.sampler_aggs([(0, {"must": "beta"})],
                       {"terms": {"field": "lang"}},
                       shard_size=7).toPandas()
    assert s.doc_count.sum() == 7
    d2 = es_search(e, {"query": {"match": {"text": "beta"}},
                       "aggs": {"smp": {"sampler": {"shard_size": 7},
                                        "aggs": {"l": {"terms": {
                                            "field": "lang"}}}}}}).toPandas()
    assert d2.doc_count.sum() == 7
    assert sorted(map(tuple, s.itertuples(index=False))) == sorted(
        map(tuple, d2.itertuples(index=False)))
    with pytest.raises(ValueError, match="needs a query"):
        es_search(e, {"aggs": {"smp": {"sampler": {},
                                       "aggs": {"l": {"terms": {
                                           "field": "lang"}}}}}})


def test_weighted_avg_metric(eng):
    """ES weighted_avg: Σ(value·weight)/Σ(weight) per bucket, rows
    missing either side skipped (the ES default)."""
    e, pdf = eng
    out = e.search_aggs(
        [(1, "alpha")], group_by="lang",
        metrics={"wa": ("weighted_avg", "n_chars", "n_chars")},
    ).toPandas().set_index("lang")
    for lg in ("en", "de", "fr"):
        vals = [x for i, x in enumerate(pdf.n_chars)
                if ["en", "de", "fr"][i % 3] == lg]
        want = sum(v * v for v in vals) / sum(vals)
        assert abs(out.loc[lg, "wa"] - want) < 1e-9
    d = es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"byl": {"terms": {"field": "lang"},
                               "aggs": {"wa": {"weighted_avg": {
                                   "value": {"field": "n_chars"},
                                   "weight": {"field": "n_chars"}}}}}}}
                  ).toPandas().set_index("lang")
    for lg in ("en", "de", "fr"):
        assert abs(d.loc[lg, "wa"] - out.loc[lg, "wa"]) < 1e-12
    with pytest.raises(ValueError, match="value"):
        es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"a": {"terms": {"field": "lang"},
                               "aggs": {"wa": {"weighted_avg": {
                                   "value": {"field": "n_chars"}}}}}}})


def test_adjacency_matrix_plan_pure_jvm(eng):
    """The adjacency pairwise-key generation stays in JVM expressions:
    no Python runner stages, and the plan carries the standard two
    aggregate exchanges (match-set dedup + bucket agg), not one per
    filter pair."""
    e, _pdf = eng
    df = e.search_aggs(
        [(1, "alpha")],
        group_by={"adjacency_matrix": {"filters": {
            "en": {"term": {"lang": "en"}},
            "cheap": {"range": {"n_chars": {"lt": 250}}},
        }}},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the one mapInPandas is the postings decode kernel itself
    assert plan.count("MapInPandas") <= 1


def test_rare_terms_rejects_size(eng):
    """Round-6 ADVICE fix: ES rare_terms has no size parameter (its
    buckets are the anti-top-N) — passing one must raise instead of
    silently keeping the most-common rare buckets."""
    import pytest

    e, _pdf = eng
    with pytest.raises(ValueError, match="rare_terms does not take size"):
        es_search(e, {"query": {"match": {"text": "alpha"}},
                      "aggs": {"r": {"rare_terms": {
                          "field": "lang", "max_doc_count": 2,
                          "size": 3}}}})


def test_filter_literal_kinds(eng):
    """Every literal kind a structured filter accepts compiles to SQL
    text: date/datetime bounds match their ISO-string twins, and
    ±infinity and NaN compare as doubles."""
    import datetime as dt

    e, _pdf = eng

    def count(*filters):
        out = e.bool_count(
            [(1, {"must": "alpha", "filter": list(filters)})]
        ).toPandas()
        return int(out.total.iat[0])

    iso = count({"range": {"ts": {"gte": "2024-01-11", "lt": "2024-01-21"}}})
    assert iso == 10
    assert count({"range": {"ts": {
        "gte": dt.date(2024, 1, 11), "lt": dt.datetime(2024, 1, 21)}}}) == iso
    assert count({"range": {"n_chars": {
        "gt": float("-inf"), "lt": float("inf")}}}) == N
    assert count({"term": {"n_chars": float("nan")}}) == 0
