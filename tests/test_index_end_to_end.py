"""End-to-end: pages → extract → index build → BM25 top-k,
rank-identical to the pyref oracle on the reference query set
(BASELINE.json north_star)."""

import numpy as np
import pandas as pd
import pytest

from xml_to_es_spark import fixtures
from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.functions.extract import extract_fields
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine, bm25_topk_dataframe
from xml_to_es_spark.pyref import PyRefIndex, extract_text

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus():
    pages = fixtures.generate_pages(N_DOCS)
    # oracle extraction, driver-side
    texts = {
        i: extract_text(pages["html"].iat[i].decode("utf-8"))
        for i in range(len(pages))
    }
    return pages, texts


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    pages, texts = corpus
    out = str(tmp_path_factory.mktemp("idx") / "index")
    pages_df = spark.createDataFrame(pages)
    fields = extract_fields(pages_df)
    # deterministic doc_id = the page's own id field (stable key);
    # urls are example-{i:08d} so id == i
    docs = fields.selectExpr("cast(id as long) as doc_id", "text", "url")
    cfg = IndexConfig(n_groups=4, salt_threshold=50, n_salts=4, block_size=64)
    IndexBuilder(spark, cfg).build(docs, out)
    return out


def test_extraction_byte_identity(spark, corpus):
    """input_hint invariant: byte-identical extracted text per url
    between the Spark Arrow UDF and the pure-Python oracle."""
    pages, texts = corpus
    fields = extract_fields(spark.createDataFrame(pages))
    got = {int(r["id"]): r["text"] for r in fields.collect()}
    assert len(got) == N_DOCS
    mismatches = [i for i in range(N_DOCS) if got[i] != texts[i]]
    assert mismatches == []


def test_index_stats_match_pyref(spark, corpus, index_dir):
    _, texts = corpus
    ref = PyRefIndex(texts)
    st = spark.read.parquet(f"{index_dir}/stats").first()
    assert st["n_docs"] == ref.n_docs
    assert abs(float(st["avgdl"]) - ref.avgdl) < 1e-9
    terms = spark.read.parquet(f"{index_dir}/terms")
    got_df = {r["term"]: r["df"] for r in terms.collect()}
    ref_df = {t: len(p) for t, p in ref.postings.items()}
    assert got_df == ref_df


def test_salting_applied_to_hot_terms(spark, index_dir):
    p = spark.read.parquet(f"{index_dir}/postings")
    seg_counts = (
        p.groupBy("term").count().filter("count > 1").count()
    )
    assert seg_counts > 0  # Zipf head got split into salt segments
    # salt segments must partition doc_id ranges in salt order
    import pyspark.sql.functions as F

    hot_term = (
        p.groupBy("term").count().orderBy(F.desc("count")).first()["term"]
    )
    segs = sorted(
        p.filter(F.col("term") == hot_term).select(
            "salt", "block_last_doc", "n_docs", "docs_bin", "tfs_bin", "dls_bin"
        ).collect(),
        key=lambda r: r["salt"],
    )
    assert len(segs) > 1
    from xml_to_es_spark.operators.postings import decode_segment

    prev_last = -1
    for s in segs:
        d, _, _ = decode_segment(s.asDict())
        assert d[0] > prev_last  # ordered concat across salts
        prev_last = int(d[-1])


def test_rank_identity_vs_pyref(spark, corpus, index_dir):
    """The north-star check: rank-identical docIDs + scores on the
    25-query reference set."""
    _, texts = corpus
    ref = PyRefIndex(texts)
    queries = fixtures.generate_queries()
    qlist = list(zip(queries["query_id"], queries["query_text"]))
    eng = QueryEngine(spark, index_dir)
    got = eng.topk(qlist, k=10).toPandas()
    n_nonempty = 0
    for qid, qtext in qlist:
        expect = ref.topk(qtext, k=10)
        g = got[got.query_id == qid].sort_values("rank")
        assert list(g["doc_id"]) == [d for d, _ in expect], f"q{qid}: {qtext}"
        if expect:
            n_nonempty += 1
            np.testing.assert_allclose(
                g["score"].to_numpy(),
                np.array([s for _, s in expect]),
                rtol=0, atol=1e-9,
            )
    assert n_nonempty >= 20  # query set is mostly non-empty


def test_wand_rank_identity(spark, corpus, index_dir):
    """Block-max WAND over the real index: rank- and score-identical
    to pyref on the reference query set."""
    _, texts = corpus
    ref = PyRefIndex(texts)
    queries = fixtures.generate_queries()
    qlist = list(zip(queries["query_id"], queries["query_text"]))
    eng = QueryEngine(spark, index_dir)
    got = eng.topk_wand(qlist, k=10).toPandas()
    for qid, qtext in qlist:
        expect = ref.topk(qtext, k=10)
        g = got[got.query_id == qid].sort_values("rank")
        assert list(g["doc_id"]) == [d for d, _ in expect], f"q{qid}: {qtext}"
        if expect:
            np.testing.assert_allclose(
                g["score"].to_numpy(),
                np.array([s for _, s in expect]),
                rtol=0, atol=1e-9,
            )


def test_wand_distributed_rank_identity_and_multitask(
    spark, corpus, index_dir, wand_sides
):
    """The scale WAND path: per-(query, doc-range) local top-k merged
    globally must stay rank- AND score-identical to pyref (on both
    sides of the coordinator switch; ``n_ranges`` moves only the Spark
    side), and a single query must actually be scored by >1 range task
    on the salted corpus."""
    _, texts = corpus
    ref = PyRefIndex(texts)
    queries = fixtures.generate_queries()
    qlist = list(zip(queries["query_id"], queries["query_text"]))
    eng = QueryEngine(spark, index_dir)
    for side in wand_sides():
        got = eng.topk_wand(qlist, k=10, n_ranges=4).toPandas()
        for qid, qtext in qlist:
            expect = ref.topk(qtext, k=10)
            g = got[got.query_id == qid].sort_values("rank")
            assert list(g["doc_id"]) == [d for d, _ in expect], f"{side} q{qid}"
            if expect:
                np.testing.assert_allclose(
                    g["score"].to_numpy(),
                    np.array([s for _, s in expect]),
                    rtol=0, atol=1e-9,
                )
    # >1 range group evaluates the hot single-term query (query 1 is
    # the hottest head term → present in every doc_id range)
    matched = eng._matched_segments(qlist[:1])
    partials = eng._wand_partials(matched, k=10, n_ranges=4)
    n_groups = partials.select("query_id", "range_id").distinct().count()
    assert n_groups > 1, "hot query scored by a single task"


def test_distributed_topk_agrees_on_ranks(spark, corpus, index_dir):
    _, texts = corpus
    queries = fixtures.generate_queries()
    qlist = list(zip(queries["query_id"], queries["query_text"]))
    eng = QueryEngine(spark, index_dir)
    a = eng.topk(qlist, k=10).toPandas().sort_values(["query_id", "rank"])
    b = eng.topk_distributed(qlist, k=10).toPandas().sort_values(["query_id", "rank"])
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True)[["query_id", "rank", "doc_id"]],
        b.reset_index(drop=True)[["query_id", "rank", "doc_id"]],
    )


def test_conjunctive_min_match_semantics(spark, index_dir):
    """ES operator:and / minimum_should_match: AND drops partial
    matches OR keeps; a corpus-absent token under AND → zero hits."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "apple banana cherry",
                    "apple banana",
                    "apple",
                    "banana cherry",
                ],
            }
        )
    )
    q = [(1, "apple banana"), (2, "apple zzzmissing")]
    both = bm25_topk_dataframe(docs, q, k=10, min_match="all").toPandas()
    assert set(both[both.query_id == 1]["doc_id"]) == {0, 1}
    assert len(both[both.query_id == 2]) == 0  # absent term → nothing (ES and)
    or_hits = bm25_topk_dataframe(docs, q, k=10).toPandas()
    assert set(or_hits[or_hits.query_id == 1]["doc_id"]) == {0, 1, 2, 3}
    msm1 = bm25_topk_dataframe(docs, q, k=10, min_match=1).toPandas()
    assert set(msm1[msm1.query_id == 2]["doc_id"]) == {0, 1, 2}  # 'apple' alone ok
    # codec engine distributed path agrees on the AND semantics
    eng = QueryEngine(spark, index_dir)
    and_codec = eng.topk_distributed(
        [(1, fixtures.make_vocab(3)[0] + " zzzabsentterm")], k=10, min_match="all"
    )
    assert and_codec.count() == 0


def test_phrase_match_semantics(spark):
    """match_phrase: adjacency and order both required; AND is not
    enough; scoring stats stay corpus-wide."""
    from xml_to_es_spark.functions.analysis import phrase_match_col

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "hash join pipeline",      # phrase present
                    "hash anti join",          # both terms, not adjacent
                    "join hash order",         # adjacent, wrong order
                    "Hash  Join! caps/punct",  # tokenizer normalizes
                ],
            }
        )
    )
    flags = {
        r["doc_id"]: r["m"]
        for r in docs.select(
            "doc_id", phrase_match_col("text", "hash join").alias("m")
        ).collect()
    }
    assert flags == {0: True, 1: False, 2: False, 3: True}
    hits = bm25_topk_dataframe(docs, [(1, "hash join")], k=10, phrase=True).toPandas()
    assert set(hits["doc_id"]) == {0, 3}
    # a one-token "phrase" degrades to plain match
    one = bm25_topk_dataframe(docs, [(1, "join")], k=10, phrase=True).toPandas()
    assert set(one["doc_id"]) == {0, 1, 2, 3}


def test_fuzzy_match_codec_and_dataframe_agree(spark, corpus, index_dir):
    """ES fuzziness=1: the codec engine's dictionary expansion must
    produce the same ranking as the DataFrame twin; a typo'd token
    recovers its dictionary neighbours; distance-2 typos don't."""
    pages, texts = corpus
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": [texts[i] for i in texts]})
    )
    v = fixtures.make_vocab(5)
    far = "zzqqzzqq"  # nothing in the vocab within distance 1
    queries = [(1, v[0] + "x"), (2, far), (3, v[1])]  # 1-typo, far, exact
    eng = QueryEngine(spark, index_dir)
    variants = eng.fuzzy_variants([v[0] + "x", far], 1)
    assert v[0] in variants[v[0] + "x"]
    assert variants[far] == []
    a = (
        eng.topk(queries, k=10, fuzziness=1)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        bm25_topk_dataframe(docs, queries, k=10, fuzziness=1, score_decimals=None)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[["query_id", "rank", "doc_id"]],
        b[["query_id", "rank", "doc_id"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)
    assert len(a[a.query_id == 1]) > 0
    assert len(a[a.query_id == 2]) == 0


def test_phrase_codec_matches_dataframe_twin(spark, tmp_path):
    """match_phrase over the positional codec (salted, range-merged)
    must agree with the pure-DataFrame phrase twin — same hits, same
    scores — including order sensitivity and absent-term queries."""
    import numpy as np

    rng = np.random.RandomState(17)
    rows = []
    for i in range(150):
        filler = " ".join(f"w{rng.randint(0, 40)}" for _ in range(rng.randint(8, 30)))
        if i % 5 == 0:
            text = f"{filler} hash join {filler}"
        elif i % 5 == 1:
            text = f"{filler} hash w0 join {filler}"  # both terms, not adjacent
        elif i % 5 == 2:
            text = f"join hash {filler}"               # reversed
        else:
            text = filler
        rows.append((i, text))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    cfg = IndexConfig(
        n_groups=2, salt_threshold=30, n_salts=3, block_size=16, store_positions=True
    )
    idx = str(tmp_path / "pos_idx")
    IndexBuilder(spark, cfg).build(docs, idx)
    eng = QueryEngine(spark, idx)
    queries = [(1, "hash join"), (2, "join hash"), (3, "hash zzzabsent")]
    got = (
        eng.phrase_topk(queries, k=10, n_ranges=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    expect = (
        bm25_topk_dataframe(docs, queries, k=10, phrase=True, score_decimals=None)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id"]],
        expect[["query_id", "rank", "doc_id"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(got["score"], expect["score"], atol=1e-9)
    assert len(got[got.query_id == 1]) > 0
    assert len(got[got.query_id == 3]) == 0
    # hits of "hash join" and "join hash" are disjoint by construction
    h1 = set(got[got.query_id == 1]["doc_id"])
    h2 = set(got[got.query_id == 2]["doc_id"])
    assert h1 and h2 and not (h1 & h2)


def test_dataframe_bm25_agrees_with_codec_engine(spark, corpus, index_dir):
    """The SQL-expressible DataFrame BM25 (oracle twin) must produce
    the same ranking as the compressed-postings engine."""
    pages, texts = corpus
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": [texts[i] for i in texts]})
    )
    queries = fixtures.generate_queries()
    qlist = list(zip(queries["query_id"], queries["query_text"]))[:8]
    a = (
        bm25_topk_dataframe(docs, qlist, k=10, score_decimals=None)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    eng = QueryEngine(spark, index_dir)
    b = eng.topk(qlist, k=10).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["query_id", "rank", "doc_id"]],
        b[["query_id", "rank", "doc_id"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)
