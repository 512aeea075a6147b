"""Both sides of the coordinator switch in ``QueryEngine.topk_wand``.

A batch whose matched posting volume is at most
``QueryEngine._COORDINATOR_MAX_POSTINGS`` on an all-local index runs
WAND on the driver over pyarrow-read postings; anything else runs the
Spark WAND path. Each case here runs on both sides through the
``wand_sides`` fixture (the bound patched to ∞, then 0, and a check
that only the named side answered) and asserts identical rows with
bit-equal scores, and rank-identity plus bit-equal scores to pyref.
The benchmark corpora are small enough that the Spark side never runs
there, so this module is what holds that side.
"""

import math

import pandas as pd
import pytest

from xml_to_es_spark import pyref
from xml_to_es_spark.config import BM25Config, IndexConfig
from xml_to_es_spark.operators import query_engine as qe
from xml_to_es_spark.operators.es_query import es_msearch, es_search
from xml_to_es_spark.operators.index_build import IndexBuilder
from xml_to_es_spark.operators.query_engine import QueryEngine

CFG = IndexConfig(n_groups=2, salt_threshold=40, n_salts=3, block_size=16)
FCFG = IndexConfig(
    n_groups=2, salt_threshold=40, n_salts=3, block_size=16,
    indexed_fields=("text", "title"),
)
QS = [(1, "alpha"), (2, "beta gamma w7"), (3, "alpha omega w11"), (4, "zzzabsent"),
      (5, "gamma w3 w13 w21")]


def _text(i: int) -> str:
    words = ["alpha"] * (1 + i % 4) + [f"w{i % 23}", f"w{i % 7}"]
    words += ["beta"] * (i % 3) + (["gamma"] if i % 5 == 0 else [])
    return " ".join(words)


def _corpus(n=150) -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": list(range(n)), "text": [_text(i) for i in range(n)],
         "title": [f"title w{i % 11}" + (" alpha" if i % 9 == 0 else "")
                   for i in range(n)]}
    )


def _rows(df) -> list[tuple]:
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        for r in df.collect()
    )


def _both(wand_sides, run) -> list[tuple]:
    """``run()`` on each side of the switch; the rows must be equal."""
    got = {side: _rows(run()) for side in wand_sides()}
    assert got["coordinator"] == got["spark"]
    return got["coordinator"]


def _ref_pages(ref: pyref.PyRefIndex, qs, k, from_=0) -> list[tuple]:
    out = []
    for qid, text in qs:
        ranked = sorted(ref.score(text).items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (d, s) in enumerate(ranked[from_:k + from_], start=from_ + 1):
            out.append((qid, rank, d, s))
    return sorted(out)


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    pdf = _corpus()
    idx = str(tmp_path_factory.mktemp("switch") / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(pdf[["doc_id", "text"]]), idx)
    return QueryEngine(spark, idx), pyref.PyRefIndex(dict(zip(pdf.doc_id, pdf.text)))


@pytest.fixture(scope="module")
def fielded(spark, tmp_path_factory):
    pdf = _corpus()
    idx = str(tmp_path_factory.mktemp("switch_f") / "idx")
    IndexBuilder(spark, FCFG).build(spark.createDataFrame(pdf), idx)
    return QueryEngine(spark, idx), pdf


@pytest.fixture(scope="module")
def mutated(spark, tmp_path_factory):
    """Base + one upsert delta (changed and new docs) + deletes."""
    pdf = _corpus()
    idx = str(tmp_path_factory.mktemp("switch_m") / "idx")
    b = IndexBuilder(spark, CFG)
    b.build(spark.createDataFrame(pdf[["doc_id", "text"]]), idx)
    changed = {3: "omega alpha w3 fresh", 10: "gamma omega omega", 40: "beta w7"}
    new = {500: "alpha omega w11 brand new", 501: "gamma gamma w13"}
    patch = pd.DataFrame(
        {"doc_id": list(changed) + list(new),
         "text": list(changed.values()) + list(new.values())}
    )
    b.upsert(spark.createDataFrame(patch), idx)
    deleted = [1, 5, 500, 77]
    b.delete_docs(deleted, idx)
    live = dict(zip(pdf.doc_id, pdf.text)) | changed | new
    for d in deleted:
        live.pop(d)
    return QueryEngine(spark, idx), pyref.PyRefIndex(live)


def test_or_match(wand_sides, plain):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.topk_wand(QS, k=7))
    assert got == _ref_pages(ref, QS, 7)  # rank-identical, bit-equal


def test_n_ranges_only_moves_the_spark_side(wand_sides, plain):
    eng, ref = plain
    got = _both(wand_sides, lambda: eng.topk_wand(QS, k=7, n_ranges=3))
    assert got == _ref_pages(ref, QS, 7)


def test_es_match_and_msearch(wand_sides, plain):
    eng, ref = plain
    body = {"query": {"match": {"text": "beta gamma w7"}}, "size": 5}
    assert _both(wand_sides, lambda: es_search(eng, body)) == _ref_pages(
        ref, [(0, "beta gamma w7")], 5
    )
    bodies = [{"query": {"match": {"text": t}}, "size": 6} for _q, t in QS]
    assert _both(wand_sides, lambda: es_msearch(eng, bodies)) == _ref_pages(
        ref, [(i, t) for i, (_q, t) in enumerate(QS)], 6
    )


def test_from_and_search_after(wand_sides, plain):
    eng, ref = plain
    assert _both(wand_sides, lambda: eng.topk_wand(QS, k=4, from_=3)) == (
        _ref_pages(ref, QS, 4, from_=3)
    )
    full = _ref_pages(ref, [(2, "beta gamma w7")], 12)
    _q, _r, d, s = full[4]
    page = _both(
        wand_sides,
        lambda: eng.topk_wand([(2, "beta gamma w7")], k=5,
                              search_after={2: (s, d)}),
    )
    assert [(dd, ss) for _q, _r, dd, ss in page] == [
        (dd, ss) for _q, _r, dd, ss in full[5:10]
    ]


def test_fuzziness(wand_sides, plain):
    eng, _ref = plain
    got = _both(
        wand_sides, lambda: eng.topk_wand([(1, "alphq"), (2, "gamna w7")], k=6,
                                           fuzziness=1)
    )
    assert {q for q, *_ in got} == {1, 2}


def test_field_and_boosted_fields(wand_sides, fielded):
    eng, pdf = fielded
    qs = [(1, "alpha w3"), (2, "title w5 beta")]
    for fld in ("text", "title"):
        ref = pyref.PyRefIndex(dict(zip(pdf.doc_id, pdf[fld])))
        got = _both(wand_sides, lambda f=fld: eng.topk_wand(qs, k=6, field=f))
        assert got == _ref_pages(ref, qs, 6)
    boosts = {"text": 1.0, "title": 2.5}
    got = _both(
        wand_sides,
        lambda: eng.topk_wand(qs, k=6, fields=["text", "title"], field_boosts=boosts),
    )
    assert got == _boosted_ref(pdf, qs, boosts, 6)


def _boosted_ref(pdf, qs, boosts, k) -> list[tuple]:
    """multi_match most_fields in pyref's terms: Σ over the stored term
    keys ``field:token`` in lexicographic order of (idf·boost)·sat."""
    cfg = BM25Config()
    refs = {f: pyref.PyRefIndex(dict(zip(pdf.doc_id, pdf[f]))) for f in boosts}
    out = []
    for qid, text in qs:
        keys = sorted((f"{f}:{t}", f, t) for f in boosts for t in set(pyref.tokenize(text)))
        scores: dict[int, float] = {}
        for _key, f, t in keys:
            r = refs[f]
            plist = r.postings.get(t)
            if not plist:
                continue
            w = pyref.idf(r.n_docs, len(plist)) * boosts[f]
            for d in sorted(plist):
                sat = pyref.saturation(plist[d], r.doc_len[d], r.avgdl, cfg)
                scores[d] = scores.get(d, 0.0) + w * sat
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out += [(qid, i + 1, d, s) for i, (d, s) in enumerate(ranked)]
    return sorted(out)


def test_delta_and_tombstones(wand_sides, mutated):
    eng, ref = mutated
    assert len(eng.dirs) == 2 and eng.kills
    qs = QS + [(6, "omega"), (7, "gamma w13")]
    assert _both(wand_sides, lambda: eng.topk_wand(qs, k=8)) == _ref_pages(ref, qs, 8)
    assert _both(wand_sides, lambda: eng.topk_wand(qs, k=3, from_=2)) == (
        _ref_pages(ref, qs, 3, from_=2)
    )


def test_local_dir():
    assert qe._local_dir("/data/idx") == "/data/idx"
    assert qe._local_dir("file:/data/idx") == "/data/idx"
    assert qe._local_dir("hdfs://nn:8020/idx") is None
    assert qe._local_dir("s3a://bucket/idx") is None


def test_ranged_search_after_and_fielded_from(wand_sides, plain, fielded):
    """n_ranges > 1 with search_after, and field + from_ with n_ranges > 1:
    the ranged Spark kernel's cursor and rank filter against the
    coordinator's."""
    eng, ref = plain
    full = _ref_pages(ref, [(3, "alpha omega w11")], 15)
    _q, _r, d, s = full[6]
    page = _both(
        wand_sides,
        lambda: eng.topk_wand([(3, "alpha omega w11")], k=5, n_ranges=3,
                              search_after={3: (s, d)}),
    )
    assert [(dd, ss) for _q, _r, dd, ss in page] == [
        (dd, ss) for _q, _r, dd, ss in full[7:12]
    ]
    feng, pdf = fielded
    qs = [(1, "alpha w3"), (2, "title w5 beta")]
    fref = pyref.PyRefIndex(dict(zip(pdf.doc_id, pdf["title"])))
    got = _both(
        wand_sides,
        lambda: feng.topk_wand(qs, k=4, field="title", from_=3, n_ranges=2),
    )
    assert got == _ref_pages(fref, qs, 4, from_=3)


def test_non_local_index_selects_spark(monkeypatch, plain):
    eng, ref = plain
    calls = {"coordinator": 0, "spark": 0}

    def spy(side, real):
        def call(self, *a, **kw):
            calls[side] += 1
            return real(self, *a, **kw)
        return call

    monkeypatch.setattr(QueryEngine, "_wand_coordinator",
                        spy("coordinator", QueryEngine._wand_coordinator))
    monkeypatch.setattr(QueryEngine, "_wand_group_kernel",
                        spy("spark", QueryEngine._wand_group_kernel))
    monkeypatch.setattr(QueryEngine, "_COORDINATOR_MAX_POSTINGS", math.inf)
    assert _rows(eng.topk_wand(QS, k=5)) == _ref_pages(ref, QS, 5)
    assert calls == {"coordinator": 1, "spark": 0}
    # the same index seen through a non-local scheme stays on Spark
    monkeypatch.setattr(
        qe, "_local_dir", lambda p: None if p == eng.dirs[0][1] else p
    )
    assert _rows(eng.topk_wand(QS, k=5)) == _ref_pages(ref, QS, 5)
    assert calls == {"coordinator": 1, "spark": 1}


def test_failed_local_read_falls_back_to_spark_once(monkeypatch, plain):
    """A failed pyarrow read is answered by Spark, and the engine does
    not try the local read again on later batches."""
    import pyarrow.dataset as pads

    eng, ref = plain
    fresh = QueryEngine(eng.spark, eng.dir)  # no cached dataset handles
    attempts = []

    def unreadable(*a, **kw):
        attempts.append(1)
        raise OSError("unreadable")

    monkeypatch.setattr(pads, "dataset", unreadable)
    monkeypatch.setattr(QueryEngine, "_COORDINATOR_MAX_POSTINGS", math.inf)
    # the terms dictionary read falls back too; both fall back once
    for _ in range(2):
        assert _rows(fresh.topk_wand(QS, k=5)) == _ref_pages(ref, QS, 5)
    assert not fresh._post_local_ok
    assert len(attempts) == 2  # one dictionary read, one postings read


def test_kernel_error_is_not_masked(monkeypatch, plain):
    """Only read failures fall back: an error in the coordinator's
    kernel reaches the caller instead of being answered by Spark."""
    eng, _ref = plain

    def broken(*a, **kw):
        raise RuntimeError("kernel defect")

    monkeypatch.setattr(qe, "_wand_group_hits", broken)
    monkeypatch.setattr(QueryEngine, "_COORDINATOR_MAX_POSTINGS", math.inf)
    with pytest.raises(RuntimeError, match="kernel defect"):
        eng.topk_wand(QS, k=5)


def test_range_edges_do_not_overflow(monkeypatch, spark, tmp_path):
    """Doc ids near ±2^62 make span · n_ranges pass 2^63: the range
    edges must still partition the whole id space on the Spark side."""
    ids = [-(2**62) + 1, -(2**61), -5, 0, 7, 2**40, 2**61 + 3, 2**62 - 1]
    texts = {d: f"alpha w{i % 3} " + "beta " * (i % 2) for i, d in enumerate(ids)}
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=2)).build(
        spark.createDataFrame(pd.DataFrame(
            {"doc_id": list(texts), "text": list(texts.values())})),
        idx,
    )
    eng = QueryEngine(spark, idx)
    ref = pyref.PyRefIndex(texts)
    qs = [(1, "alpha"), (2, "beta w1")]
    monkeypatch.setattr(QueryEngine, "_COORDINATOR_MAX_POSTINGS", 0)
    for n_ranges in (2, 3, 4):
        assert _rows(eng.topk_wand(qs, k=10, n_ranges=n_ranges)) == _ref_pages(
            ref, qs, 10
        )
