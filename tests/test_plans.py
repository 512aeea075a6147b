"""Physical-plan regression tests: the plans we shipped are the plans
we want (pushdown at the scan, broadcast where intended, codegen on
the hot path, no cartesian products) — .explain as a test subject."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xml_to_es_spark.operators.query_engine import bm25_topk_dataframe
from xml_to_es_spark.plans import (
    assert_broadcast_join,
    assert_segment_attach_no_shuffle,
    assert_no_cartesian,
    assert_no_python,
    assert_pushed_filter,
    assert_read_schema_only,
    codegen_stage_count,
    explain_str,
)


def test_read_pages_pushdown(spark, tmp_path):
    from xml_to_es_spark import fixtures
    from xml_to_es_spark.sources.pages import read_pages

    p = str(tmp_path / "pages")
    spark.createDataFrame(fixtures.generate_pages(50)).write.parquet(p)
    df = read_pages(spark, p, langs=("en",)).select("url", "lang")
    # the lang whitelist must reach the parquet scan, not sit in a
    # post-scan Filter
    assert_pushed_filter(df, "lang")
    assert_read_schema_only(df, {"url", "lang", "html"})


def test_bm25_dataframe_plan_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan_df = bm25_topk_dataframe(docs, [(1, "hash join")], k=5)
    assert_no_cartesian(plan_df)
    assert_broadcast_join(plan_df)  # query-term table broadcast
    plan = explain_str(plan_df, "formatted")
    # rank<=k compiled to a group-limit pushdown, not full sort
    assert "WindowGroupLimit" in plan
    # no row-at-a-time Python anywhere in the hot path
    assert "BatchEvalPython" not in plan
    # under AQE the codegen spans only appear once the plan executes
    plan_df.collect()
    final = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in final or "isFinalPlan=true" in final


def test_query_engine_scan_pruning(spark, tmp_path):
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(60), "text": [f"alpha beta w{i} gamma" for i in range(60)]}
        )
    )
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=4)).build(docs, idx)
    eng = QueryEngine(spark, idx)
    matched = eng._matched_segments([(1, "alpha")])
    plan = explain_str(matched)
    # group partition-dir pruning: only the query term's group scanned
    g = eng.term_groups(["alpha"])["alpha"]
    assert f"group = {g}" in plan or f"group#" in plan
    assert "PushedFilters" in plan and "term" in plan
    assert_segment_attach_no_shuffle(matched)


def test_ann_paths_are_pure_jvm_and_bucketed(spark):
    """The LSH/IVF models are literal expressions in the plan: the
    whole ANN query — bucketing, probe selection, cell argmin, cosine
    re-rank — must run JVM-side (no Python nodes of any kind), with
    broadcast candidate joins and no cartesian product."""
    import numpy as np

    from xml_to_es_spark.operators import dedup, similarity

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {"vec_id": range(30), "embedding": [rng.normal(size=8).tolist() for _ in range(30)]}
    )
    emb = spark.createDataFrame(pdf)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    planes = similarity.projection_matrix(dim=8, n_planes=4)
    lsh = similarity.ann_topk_lsh(emb, q, planes, k=5)
    assert_no_python(lsh)
    assert_no_cartesian(lsh)
    assert_broadcast_join(lsh)

    C = similarity.fixed_centroids(dim=8, k=4)
    ivf = similarity.ann_topk_ivf(emb, q, C, k=5, nprobe=2)
    assert_no_python(ivf)
    assert_no_cartesian(ivf)
    assert_broadcast_join(ivf)

    nd = dedup.embedding_near_dups(emb, threshold=0.9, planes=planes, band_size=2)
    assert_no_python(nd)
    assert_no_cartesian(nd)

    # exact cosine baseline: crossJoin is intentional but must be the
    # broadcast (not shuffled-cartesian) variant
    exact = similarity.cosine_topk(emb, q, k=5)
    assert_no_python(exact)
    assert "BroadcastNestedLoopJoin" in explain_str(exact, "simple")


def test_simhash_is_pure_jvm(spark):
    from xml_to_es_spark.operators import dedup

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta", "gamma delta"]})
    )
    fp = dedup.simhash(docs)
    assert_no_python(fp)
    assert_no_cartesian(fp)


def test_merged_engine_plan_union_pruned_broadcast(spark, tmp_path):
    """With deltas present, the matched-segments plan must be a UNION
    of per-dir term-pruned scans (pushed term filters on each), joined
    broadcast — the postings side never shuffles."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    cfg = IndexConfig(n_groups=2)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(30), "text": [f"alpha w{i}" for i in range(30)]})
    )
    idx = str(tmp_path / "m_idx")
    IndexBuilder(spark, cfg).build(docs, idx)
    IndexBuilder(spark, cfg).upsert(
        spark.createDataFrame(pd.DataFrame({"doc_id": [99], "text": ["alpha omega"]})),
        idx,
    )
    eng = QueryEngine(spark, idx)
    assert len(eng.dirs) == 2
    matched = eng._matched_segments([(1, "alpha")])
    plan = explain_str(matched)
    assert "Union" in plan
    assert plan.count("PushedFilters") >= 2  # each dir's scan pruned
    assert_segment_attach_no_shuffle(matched)
    assert_no_cartesian(matched)


def test_bool_topk_plan_one_agg_no_extra_shuffle(spark, tmp_path):
    """The bool query's role machinery must not add passes: every
    occurrence type rides the ONE pruned scan + decode, the role/need
    tables join broadcast, and the only hash shuffles are the
    (query_id, doc_id) aggregation and the per-query top-k window.
    A structured filter keeps the spec on this hash-aggregate path;
    the same spec without it is a flat text-only bool, answered by
    the WAND executor on the coordinator with no Spark plan at all."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(30), "text": [f"alpha beta w{i} tail" for i in range(30)],
             "lang": [("en", "de")[i % 2] for i in range(30)]}
        )
    )
    idx = str(tmp_path / "bool_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=2, stored_fields=("lang",))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)
    spec = {"must": "alpha", "should": "tail", "must_not": "beta"}
    out = eng.bool_topk(
        [(1, {**spec, "filter": [{"term": {"lang": "en"}}]})], k=5
    )
    plan = explain_str(out, "simple")  # each node appears exactly once
    assert_no_cartesian(out)
    assert_broadcast_join(out)
    assert "BatchEvalPython" not in plan  # only the Arrow decode kernel
    assert plan.count("MapInPandas") == 1
    # shuffles: one for the role agg, one for the rank window — the
    # role and clause-count tables must NOT induce extra exchanges
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "WindowGroupLimit" in plan
    flat = explain_str(eng.bool_topk([(1, spec)], k=5), "simple")
    assert "MapInPandas" not in flat and "Exchange" not in flat


def test_mapping_stays_projection(spark):
    from pyspark.sql import Row

    from xml_to_es_spark.functions import mapping as M

    df = spark.createDataFrame([Row(S=Row(A="x"), KEEP="y")])
    out = M.apply_mapping(df, promote_spec={"s": ["a"]})
    assert "Exchange" not in explain_str(out, "simple")


def test_bool_structured_filter_pushed_to_doc_values_scan(spark, tmp_path):
    """The structured filter context must reach the doc-values parquet
    scan as a PUSHED filter (the OR of every query's predicate), read
    only the referenced columns, and join without a cartesian."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(30),
                "text": [f"alpha w{i}" for i in range(30)],
                "lang": [["en", "de"][i % 2] for i in range(30)],
                "n_chars": [100 + i for i in range(30)],
            }
        )
    )
    idx = str(tmp_path / "sf_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, stored_fields=("lang", "n_chars"))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)
    out = eng.bool_topk(
        [
            (1, {"must": "alpha",
                 "filter": [{"range": {"n_chars": {"gte": 110}}}]}),
            (2, {"filter": [{"term": {"lang": "en"}}]}),
        ],
        k=30,
    )
    plan = explain_str(out)
    # the doc-values scan carries the pushed predicates
    assert "n_chars" in "".join(
        l for l in plan.splitlines() if "PushedFilters" in l
    )
    assert_no_cartesian(out)
    # correctness of the same plan (sanity, not the oracle's job here)
    got = out.toPandas()
    assert set(got[got.query_id == 2].doc_id) == set(range(0, 30, 2))


def test_search_aggs_size_and_sort_topk_plan(spark, tmp_path):
    """terms-agg size must be a rank window over the bucket agg (no
    collect barrier in the plan); sort_topk must read only (doc_id,
    sort column) from the docs table."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": [f"alpha w{i}" for i in range(20)],
                "lang": [["en", "de", "fr", "es"][i % 4] for i in range(20)],
                "n_chars": [100 + i for i in range(20)],
            }
        )
    )
    idx = str(tmp_path / "agg_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, stored_fields=("lang", "n_chars"))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)
    aggs = eng.search_aggs([(1, "alpha")], group_by="lang", size=2)
    plan = explain_str(aggs, "simple")
    assert "Window" in plan  # the in-plan top-N bucket cap
    assert len(aggs.collect()) == 2

    srt = eng.sort_topk([(1, "alpha")], by="n_chars", k=3)
    # column pruning: the docs-table scan reads only doc_id + n_chars
    import re

    plan = explain_str(srt)
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    dv_reads = [r for r in reads if "n_chars" in r]
    assert dv_reads and all("text" not in r for r in dv_reads), reads
    assert [int(r["doc_id"]) for r in srt.collect()] == [19, 18, 17]


def test_multi_match_tie_breaker_plan_no_extra_python(spark, tmp_path):
    """The tie_breaker>0 dis_max path must stay one decode pass: a
    single MapInPandas (the segment decode) and JVM hash-aggs for the
    per-field sums and the dis_max combine — no extra Python stages,
    no cartesian."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": [f"alpha w{i}" for i in range(20)],
                "title": [f"t{i} alpha" for i in range(20)],
            }
        )
    )
    idx = str(tmp_path / "tb_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, indexed_fields=("text", "title"))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)
    out = eng.multi_match(
        [(1, "alpha")], k=5, fields=["title^2", "text"], tie_breaker=0.3
    )
    plan = explain_str(out, "simple")
    assert plan.count("MapInPandas") == 1  # the decode, nothing else
    assert_no_cartesian(out)
    assert len(out.collect()) == 5


def test_count_and_collapse_plans(spark, tmp_path):
    """bool_count must be one count hash-agg over the match set (no
    Window, no extra Python beyond the decode kernel); collapse_topk
    must be two Windows (group-best + page rank) with the doc-values
    scan pruned to (doc_id, collapse column)."""
    import re

    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(24),
            "text": [f"alpha w{i}" for i in range(24)],
            "site": [f"s{i % 4}" for i in range(24)],
            "n_chars": [100 + i for i in range(24)],
        })
    )
    idx = str(tmp_path / "cc_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, stored_fields=("site", "n_chars"))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)

    spec = [(1, {"must": [{"match": "alpha"}]})]
    cnt = eng.bool_count(spec)
    plan = explain_str(cnt)
    assert "Window" not in plan  # counting never ranks
    # no MORE Python passes than the bool match set itself uses
    base = explain_str(eng.bool_topk(spec, k=5))
    assert plan.count("MapInPandas") <= base.count("MapInPandas")
    assert "BatchEvalPython" not in plan
    assert [(int(r.query_id), int(r.total)) for r in cnt.collect()] == [(1, 24)]

    col = eng.collapse_topk([(1, {"must": [{"match": "alpha"}]})],
                            collapse="site", k=10)
    plan = explain_str(col)
    assert plan.count("Window") >= 2  # group-best + page rank
    assert "BatchEvalPython" not in plan
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    dv_reads = [r for r in reads if "site" in r]
    assert dv_reads and all("text" not in r for r in dv_reads), reads
    rows = col.collect()
    assert len(rows) == 4 and len({r["site"] for r in rows}) == 4


def test_nested_bool_tree_plan_single_scan(spark, tmp_path):
    """A rich nested tree (sub-bools, boosts, minimum_should_match)
    must cost the SAME number of Python decode passes as a flat bool
    — the tree is a JVM expression over one clause hash-agg — and a
    match_phrase leaf adds at most ONE positional pass for its field,
    never one per clause."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(20),
            "text": [f"alpha beta w{i} gamma delta" for i in range(20)],
        })
    )
    idx = str(tmp_path / "tree_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, store_positions=True)
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)

    # track_total_hits keeps the flat spec on the hash-aggregate path
    flat = explain_str(
        eng.bool_topk([(1, {"must": "alpha"})], k=5, track_total_hits=True)
    )
    tree = explain_str(eng.bool_topk([(1, {
        "must": [{"match": "alpha"}],
        "should": [
            {"bool": {"must": [{"match": "beta"}, {"match": "gamma"}]}},
            {"match": {"query": "delta", "boost": 2.0}},
        ],
        "minimum_should_match": 1,
    })], k=5))
    assert tree.count("MapInPandas") == flat.count("MapInPandas")
    assert "BatchEvalPython" not in tree

    # phrase leaves share ONE positional kernel per field
    # (applyInPandas ⇒ FlatMapGroupsInPandas): adding a second leaf
    # must not add a pass, and the text-leaf decode count is unchanged
    one = explain_str(eng.bool_topk([(1, {
        "must": [{"match_phrase": {"query": "alpha beta"}}],
        "should": [{"match": "w1"}],
    })], k=5))
    two = explain_str(eng.bool_topk([(1, {
        "must": [{"match_phrase": {"query": "alpha beta"}},
                 {"match_phrase": {"query": "gamma delta"}}],
        "should": [{"match": "w1"}],
    })], k=5))
    assert two.count("FlatMapGroupsInPandas") == one.count(
        "FlatMapGroupsInPandas"
    )
    assert two.count("MapInPandas") == one.count("MapInPandas")
    assert "BatchEvalPython" not in two


def test_function_score_and_composite_plans(spark, tmp_path):
    """function_score must cost exactly a bool_topk plus ONE
    column-pruned doc-values join — the function array is pure JVM
    (no extra Python, no extra aggregation pass); weight-only
    functions (no doc values referenced) must not even join.
    composite_aggs ranks key-ordered buckets with an in-plan
    row_number window — no Python beyond the decode kernel, and the
    after-cursor filter adds a predicate, not a pass."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(24),
            "text": [f"alpha w{i} tail" for i in range(24)],
            "lang": [("en", "de", "fr")[i % 3] for i in range(24)],
            "n_chars": [100 + 13 * i for i in range(24)],
        })
    )
    idx = str(tmp_path / "fs_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=2, stored_fields=("lang", "n_chars"))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)
    q = [(1, {"must": "alpha"})]
    funcs = [
        {"field_value_factor": {"field": "n_chars", "factor": 0.01,
                                "modifier": "log1p", "missing": 1.0}},
        {"weight": 2.0, "filter": {"term": {"lang": "en"}}},
    ]

    # the flat bool match set function_score builds on: track_total_hits
    # keeps bool_topk on that hash-aggregate path (a count window over
    # the rank window's partitioning, no extra agg, join or decode)
    base = explain_str(eng.bool_topk(q, k=5, track_total_hits=True), "simple")
    fs = explain_str(
        eng.function_score_topk(q, funcs, k=5, score_mode="sum"), "simple"
    )
    assert fs.count("MapInPandas") == base.count("MapInPandas")
    assert "BatchEvalPython" not in fs
    assert "FlatMapGroupsInPandas" not in fs
    # one extra join (the doc-values projection), no extra hash-agg
    assert fs.count("HashAggregate") == base.count("HashAggregate")
    assert "WindowGroupLimit" in fs

    # weight-only functions reference no doc values: no dv join at all
    wonly = explain_str(
        eng.function_score_topk(q, [{"weight": 3.0}], k=5), "simple"
    )
    assert wonly.count("Join") == base.count("Join")

    comp = eng.composite_aggs(
        q,
        [{"lg": {"terms": {"field": "lang"}}},
         {"cb": {"histogram": {"field": "n_chars", "interval": 100}}}],
        size=3, after={1: ("de", 100)},
    )
    cplan = explain_str(comp, "simple")
    assert "BatchEvalPython" not in cplan
    assert cplan.count("MapInPandas") == base.count("MapInPandas")
    # the page window is a rank over the bucket agg — in-plan, and the
    # cursor is a filter (no extra shuffle beyond match-dedup, bucket
    # agg, and the page window)
    assert cplan.count("Exchange hashpartitioning") <= 3


def test_named_queries_and_constant_score_add_no_passes(spark, tmp_path):
    """Round-5 tree extensions keep the one-scan shape: _name clauses
    (matched_queries) and in-tree constant_score are pure JVM
    expressions over the SAME per-clause hash-agg — identical Python
    kernel counts and no extra exchange vs the unnamed tree."""
    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": range(20),
            "text": [f"alpha beta w{i}" for i in range(20)],
            "lang": [["en", "de"][i % 2] for i in range(20)],
        })
    )
    idx = str(tmp_path / "named_idx")
    IndexBuilder(
        spark, IndexConfig(n_groups=1, stored_fields=("lang",))
    ).build(docs, idx)
    eng = QueryEngine(spark, idx)

    plain = explain_str(eng.bool_topk([(1, {
        "must": [{"match": "alpha"}],
        "should": [{"match": "beta"}],
    })], k=5))
    named = explain_str(eng.bool_topk([(1, {
        "must": [{"match": {"query": "alpha", "_name": "base"}}],
        "should": [{"match": {"query": "beta", "_name": "b"}},
                   {"constant_score": {
                       "filter": {"term": {"lang": "en"}},
                       "boost": 0.5, "_name": "en"}}],
    })], k=5))
    assert named.count("MapInPandas") == plain.count("MapInPandas")
    assert named.count("FlatMapGroupsInPandas") == plain.count(
        "FlatMapGroupsInPandas"
    )
    assert "BatchEvalPython" not in named
    # the structured constant_score side joins doc values but must not
    # add a Python pass; exchange count stays the bool budget
    assert named.count("Exchange hashpartitioning") <= plain.count(
        "Exchange hashpartitioning"
    ) + 2  # dv-join + candidate-union shuffles, nothing per clause


def test_round6_operator_plans(spark, tmp_path):
    """Round-6 plan shapes: nested = one doc-values pass with a
    higher-order array predicate (no explode, no Python); cross_fields
    = one scan + two hash-aggs with exactly the one MapInPandas decode
    kernel; pipeline aggs add windows over the bucket frame, zero
    extra scans; knn exact = broadcast query against one column-pruned
    doc-values pass, no cartesian blowup beyond the 1-row broadcast."""
    import pandas as pd

    from xml_to_es_spark.config import IndexConfig
    from xml_to_es_spark.operators.es_query import es_search
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    pdf = pd.DataFrame({
        "doc_id": range(40),
        "text": [f"alpha beta w{i}" for i in range(40)],
        "title": [f"title w{i}" for i in range(40)],
        "n_chars": [100 + i for i in range(40)],
        "emb": [[float(i % 7), 1.0, -0.5] for i in range(40)],
    })
    docs = spark.createDataFrame(pdf).withColumn(
        "tags",
        F.expr("transform(sequence(0, cast(doc_id % 2 as int)), j -> "
               "named_struct('k', cast((doc_id + j) % 3 as long)))"),
    )
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(
        n_groups=2, indexed_fields=("text", "title"),
        store_positions=True, stored_fields=("n_chars", "emb", "tags"),
    )).build(docs, idx)
    eng = QueryEngine(spark, idx)

    nested = es_search(eng, {"query": {"bool": {
        "must": [{"match": {"text": "beta"}}],
        "should": [{"nested": {"path": "tags", "score_mode": "sum",
                               "query": {"range": {"tags.k": {"gte": 1}}}}}],
    }}, "size": 5})
    p = explain_str(nested, "formatted")
    assert "Generate" not in p or "explode(tags" not in p  # no explode
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert_no_cartesian(nested)
    # executed FINAL plan: ONE decode kernel (toString appends the
    # initial plan too — count only the final section)
    nested.collect()
    pf = (nested._jdf.queryExecution().executedPlan().toString()
          .split("== Initial Plan ==")[0])
    assert pf.count("MapInPandas") <= 1

    cross = eng.multi_match([(0, "alpha beta")], k=5,
                            match_type="cross_fields", tie_breaker=0.2)
    pc = explain_str(cross, "formatted")
    assert "BatchEvalPython" not in pc
    assert_no_cartesian(cross)
    cross.collect()
    pcf = (cross._jdf.queryExecution().executedPlan().toString()
           .split("== Initial Plan ==")[0])
    assert pcf.count("MapInPandas") == 1

    from xml_to_es_spark.operators.query_engine import pipeline_aggs

    base = eng.search_aggs([(0, "alpha")], group_by=("n_chars", 20),
                           metrics={"s": ("sum", "n_chars")})
    piped = pipeline_aggs(
        base,
        {"cs": {"cumulative_sum": {"buckets_path": "s"}},
         "r": {"bucket_script": {"buckets_path": {"a": "s", "b": "_count"},
                                 "script": "params.a / params.b"}}},
        order_col="n_chars_bucket", bucket_cols=["n_chars_bucket"],
    )
    # pipelines add NO new scans: same number of parquet reads
    pb, pp = explain_str(base, "formatted"), explain_str(piped, "formatted")
    assert pp.count("Scan parquet") == pb.count("Scan parquet")
    assert "BatchEvalPython" not in pp

    knn = es_search(eng, {"knn": {"field": "emb",
                                  "query_vector": [1.0, 0.5, -0.5],
                                  "k": 3}, "size": 3})
    pk = explain_str(knn, "formatted")
    assert "BatchEvalPython" not in pk and "ArrowEvalPython" not in pk
    # the cross join is the 1-row broadcast query vector by design
    assert "BroadcastNestedLoopJoin" in pk or "CartesianProduct" not in pk
