"""Changed-doc upsert (ES PUT-by-id semantics): delta indexes +
tombstones must reproduce EXACTLY the ranking of a fresh full rebuild
over the updated corpus — same doc ids, bit-equal scores — across the
pinned-sum, WAND, distributed-WAND, and distributed-agg query paths."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder, index_dirs, load_kills
from xml_to_es_spark.operators.query_engine import QueryEngine

CFG = IndexConfig(n_groups=2, salt_threshold=40, n_salts=3, block_size=32)

QUERIES = [
    (1, "alpha"),
    (2, "beta gamma"),
    (3, "omega"),          # term only in updated/new docs
    (4, "alpha omega"),
    (5, "zzzabsent"),
]


def _corpus_v1(n=120):
    rows = []
    for i in range(n):
        words = ["alpha"] * (1 + i % 3) + [f"w{i}"] + (["beta"] if i % 2 else ["gamma"])
        rows.append((i, " ".join(words)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _mutate(pdf, changes: dict, new: dict):
    out = pdf.copy()
    for i, t in changes.items():
        out.loc[out.doc_id == i, "text"] = t
    if new:
        out = pd.concat(
            [out, pd.DataFrame({"doc_id": list(new), "text": list(new.values())})],
            ignore_index=True,
        )
    return out


# topk_wand rankings, single-group and ranged, on each side of its
# coordinator switch (the ``wand_sides`` fixture)
WAND_KEYS = [f"{w}@{s}" for w in ("wand", "wand_r") for s in ("coordinator", "spark")]


def _rankings(spark, idx, wand_sides, k=10):
    eng = QueryEngine(spark, idx)
    out = {}
    out["topk"] = eng.topk(QUERIES, k=k).toPandas()
    for side in wand_sides():
        out[f"wand@{side}"] = eng.topk_wand(QUERIES, k=k).toPandas()
        out[f"wand_r@{side}"] = eng.topk_wand(QUERIES, k=k, n_ranges=3).toPandas()
    out["dist"] = eng.topk_distributed(QUERIES, k=k).toPandas()
    return eng, out


def _assert_same(a: pd.DataFrame, b: pd.DataFrame, exact_scores=True):
    a = a.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["query_id", "rank", "doc_id"]], b[["query_id", "rank", "doc_id"]]
    )
    if exact_scores:
        assert list(a["score"]) == list(b["score"])  # bit-equal
    else:
        np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("upsert")
    v1 = _corpus_v1()
    idx = str(root / "idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)
    return root, v1, idx


def test_upsert_noop_on_unchanged(spark, built):
    root, v1, idx = built
    res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(v1), idx)
    assert res["mode"] == "noop"
    assert len(index_dirs(idx)) == 1


def test_upsert_matches_full_rebuild(spark, built, wand_sides):
    root, v1, idx = built
    # v2: doc 5 re-crawled with new text (omega enters, alpha leaves),
    # doc 7 re-crawled unchanged, doc 200 brand new
    v2 = _mutate(
        v1,
        {5: "omega beta fresh text", 7: str(v1[v1.doc_id == 7]["text"].iat[0])},
        {200: "omega alpha brand new page"},
    )
    res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(v2), idx)
    assert res["mode"] == "delta"
    assert res["n_changed"] == 1 and res["n_new"] == 1
    kills = load_kills(spark, idx)
    assert kills == {5: 1}

    rebuild = str(root / "rebuild_v2")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v2), rebuild)
    eng_m, merged = _rankings(spark, idx, wand_sides)
    eng_r, fresh = _rankings(spark, rebuild, wand_sides)
    # corpus-wide stats are exact, not per-delta
    assert eng_m.n_docs == eng_r.n_docs == 121
    assert eng_m.avgdl == eng_r.avgdl
    _assert_same(merged["topk"], fresh["topk"])
    for key in WAND_KEYS:
        _assert_same(merged[key], fresh["topk"])
    _assert_same(merged["dist"], fresh["dist"], exact_scores=False)
    # the old version of doc 5 must be invisible: "alpha" hits exclude
    # nothing ranked from its dead posting
    got5 = merged["topk"][(merged["topk"].query_id == 3)]
    assert set(got5["doc_id"]) == {5, 200}


def test_second_upsert_supersedes_first(spark, built, wand_sides):
    root, v1, idx = built
    # doc 5 updated AGAIN: v3 kills the delta=1 version too
    v3_doc5 = "totally different delta two text"
    res = IndexBuilder(spark, CFG).upsert(
        spark.createDataFrame(pd.DataFrame({"doc_id": [5], "text": [v3_doc5]})), idx
    )
    assert res["mode"] == "delta" and res["n_changed"] == 1
    assert load_kills(spark, idx) == {5: 2}

    v3 = _mutate(
        _corpus_v1(),
        {5: v3_doc5},
        {200: "omega alpha brand new page"},
    )
    rebuild = str(root / "rebuild_v3")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v3), rebuild)
    _, merged = _rankings(spark, idx, wand_sides)
    _, fresh = _rankings(spark, rebuild, wand_sides)
    _assert_same(merged["topk"], fresh["topk"])
    for key in WAND_KEYS:
        _assert_same(merged[key], fresh["topk"])
    # omega now matches only doc 200 (doc 5's omega text was replaced)
    got = merged["topk"][(merged["topk"].query_id == 3)]
    assert set(got["doc_id"]) == {200}


def test_search_fetch_store_source_live_versions(spark, tmp_path):
    """ES GET/_source + match-query surface: with store_source=True,
    search() returns the stored documents; after an upsert, fetch and
    search must return the NEW text (live version), and compaction
    must carry the source column through."""
    cfg = IndexConfig(n_groups=2, store_source=True)
    v1 = pd.DataFrame(
        {
            "doc_id": range(10),
            "text": [f"alpha w{i} common words" for i in range(10)],
            "url": [f"https://x{i}.test/" for i in range(10)],
        }
    )
    idx = str(tmp_path / "src_idx")
    IndexBuilder(spark, cfg).build(spark.createDataFrame(v1), idx)
    eng = QueryEngine(spark, idx)
    hits = eng.search([(1, "w3")], k=5).collect()
    assert len(hits) == 1
    assert hits[0]["doc_id"] == 3
    assert hits[0]["text"] == "alpha w3 common words"
    assert hits[0]["url"] == "https://x3.test/"

    # re-crawl doc 3 with new text
    IndexBuilder(spark, cfg).upsert(
        spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [3], "text": ["omega replacement body"],
                 "url": ["https://x3.test/"]}
            )
        ),
        idx,
    )
    eng2 = QueryEngine(spark, idx)
    fetched = {r["doc_id"]: r["text"] for r in eng2.fetch([2, 3]).collect()}
    assert fetched[3] == "omega replacement body"  # live version, not v1
    assert fetched[2] == "alpha w2 common words"
    got = eng2.search([(1, "omega")], k=5).collect()
    assert [(r["doc_id"], r["text"]) for r in got] == [(3, "omega replacement body")]
    assert eng2.search([(2, "w3")], k=5).count() == 0  # old text retired
    # highlighting: window anchored at the earliest query term with
    # width//4 chars of lead context
    hl = eng2.search([(1, "replacement")], k=5, highlight=True, snippet_width=16).collect()
    assert hl[0]["snippet"] == "ega replacement "  # 4-char lead + term

    # compaction preserves the source column
    compacted = str(tmp_path / "src_idx_c")
    IndexBuilder(spark, cfg).compact(idx, compacted)
    eng3 = QueryEngine(spark, compacted)
    got3 = eng3.search([(1, "omega")], k=5).collect()
    assert [(r["doc_id"], r["text"]) for r in got3] == [(3, "omega replacement body")]


def test_many_sequential_upserts_match_rebuild(spark, tmp_path, wand_sides):
    """LSM stress: 4 sequential upserts (updates + inserts, including
    re-updates of the same doc) must still rank bit-equal to a fresh
    rebuild of the final corpus, with one tombstone ord per update."""
    base = pd.DataFrame(
        {"doc_id": range(40), "text": [f"alpha w{i} beta" for i in range(40)]}
    )
    idx = str(tmp_path / "lsm_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(base), idx)
    state = {int(r.doc_id): r.text for r in base.itertuples(index=False)}
    rng_texts = [
        {3: "omega first rewrite", 50: "gamma new fifty"},
        {3: "omega second rewrite", 7: "delta seven now"},
        {51: "epsilon fifty one"},
        {50: "gamma rewritten fifty", 3: "omega third rewrite"},
    ]
    for patch in rng_texts:
        state.update(patch)
        pdf = pd.DataFrame(
            {"doc_id": list(patch), "text": [patch[i] for i in patch]}
        )
        res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(pdf), idx)
        assert res["mode"] == "delta"
    assert len(index_dirs(idx)) == 5
    assert load_kills(spark, idx) == {3: 4, 7: 2, 50: 4}
    final = pd.DataFrame(
        {"doc_id": list(state), "text": [state[i] for i in state]}
    )
    rebuild = str(tmp_path / "lsm_rebuild")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(final), rebuild)
    qs = [(1, "alpha"), (2, "omega"), (3, "gamma fifty"), (4, "epsilon")]
    eng_m = QueryEngine(spark, idx)
    eng_r = QueryEngine(spark, rebuild)
    b = eng_r.topk(qs, k=10).toPandas()
    for _side in wand_sides():
        a = eng_m.topk_wand(qs, k=10, n_ranges=2).toPandas()
        _assert_same(a, b)
        got3 = a[a.query_id == 2]
        assert set(got3["doc_id"]) == {3}  # only the third rewrite is live


def test_upsert_crash_before_commit_invisible_then_replayable(
    spark, tmp_path, wand_sides
):
    """Atomicity: a crash between the delta build and the commit
    marker leaves the index readable in its EXACT pre-upsert state
    (tombstones for the uncommitted ord are ignored, the partial delta
    dir is invisible, live_docs has no duplicate versions); replaying
    the same upsert then succeeds and matches a fresh rebuild."""
    from xml_to_es_spark.operators.index_build import live_docs

    v1 = pd.DataFrame(
        {"doc_id": range(30), "text": [f"alpha w{i} beta" for i in range(30)]}
    )
    idx = str(tmp_path / "atomic_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)
    eng0 = QueryEngine(spark, idx)
    before = eng0.topk(QUERIES, k=10).toPandas()

    patch = pd.DataFrame(
        {"doc_id": [3, 100], "text": ["omega rewritten three", "omega new hundred"]}
    )
    b = IndexBuilder(spark, CFG)
    b._fail_before_commit = True
    with pytest.raises(RuntimeError, match="injected failure before delta commit"):
        b.upsert(spark.createDataFrame(patch), idx)

    # the tombstone file exists but its kills are clamped out, the
    # delta dir exists but is uncommitted — readers see v1 exactly
    assert len(index_dirs(idx)) == 1
    assert load_kills(spark, idx) == {}
    lv = live_docs(spark, idx).toPandas()
    assert len(lv) == 30 and lv["doc_id"].is_unique
    eng1 = QueryEngine(spark, idx)
    _assert_same(eng1.topk(QUERIES, k=10).toPandas(), before)
    assert eng1.n_docs == 30

    # replay: same ord reused, partial delta overwritten, committed
    res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(patch), idx)
    assert res["mode"] == "delta" and res["ord"] == 1
    assert res["n_changed"] == 1 and res["n_new"] == 1
    assert load_kills(spark, idx) == {3: 1}
    lv2 = live_docs(spark, idx).toPandas()
    assert len(lv2) == 31 and lv2["doc_id"].is_unique  # no double version

    v2 = _mutate(v1, {3: "omega rewritten three"}, {100: "omega new hundred"})
    rebuild = str(tmp_path / "atomic_rebuild")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v2), rebuild)
    want = QueryEngine(spark, rebuild).topk(QUERIES, k=10).toPandas()
    for _side in wand_sides():
        got = QueryEngine(spark, idx).topk_wand(QUERIES, k=10, n_ranges=2).toPandas()
        _assert_same(got, want)


def test_compact_collapses_to_single_dir(spark, built, wand_sides):
    """LSM compaction (runs after the two upserts above): base + 2
    deltas + tombstones → one fresh dir, rankings bit-equal to the
    v3 full rebuild, no text input needed."""
    root, v1, idx = built
    compacted = str(root / "compacted")
    res = IndexBuilder(spark, CFG).compact(idx, compacted)
    assert res["dirs_merged"] == 3 and res["tombstones_dropped"] == 1
    assert len(index_dirs(compacted)) == 1
    assert load_kills(spark, compacted) == {}
    eng_c, cranks = _rankings(spark, compacted, wand_sides)
    rebuild = str(root / "rebuild_v3")  # built by the previous test
    eng_r, fresh = _rankings(spark, rebuild, wand_sides)
    assert eng_c.n_docs == eng_r.n_docs and eng_c.avgdl == eng_r.avgdl
    _assert_same(cranks["topk"], fresh["topk"])
    for key in WAND_KEYS:
        _assert_same(cranks[key], fresh["topk"])
    # compacted index is still upsert-able (normal docs table layout)
    r2 = IndexBuilder(spark, CFG).upsert(
        spark.createDataFrame(pd.DataFrame({"doc_id": [300], "text": ["epsilon zeta"]})),
        compacted,
    )
    assert r2["mode"] == "delta" and r2["n_new"] == 1


def test_crashed_upsert_then_different_upsert_no_orphan_kill(spark, tmp_path):
    """The round-3 ADVICE scenario: upsert U1 (changes doc 3) crashes
    AFTER staging its tombstones; a LATER upsert U2 with a DIFFERENT
    change-set (doc 7) commits at the same ord. U1's tombstones must
    NOT activate — doc 3's original version stays live (its
    replacement was never written), doc 7 is updated, and the merged
    ranking equals a rebuild where ONLY doc 7 changed."""
    from xml_to_es_spark.operators.index_build import live_docs

    v1 = pd.DataFrame(
        {"doc_id": range(30), "text": [f"alpha w{i} beta" for i in range(30)]}
    )
    idx = str(tmp_path / "orphan_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)

    u1 = pd.DataFrame({"doc_id": [3], "text": ["omega rewritten three"]})
    b = IndexBuilder(spark, CFG)
    b._fail_after_tombstones = True
    with pytest.raises(RuntimeError, match="injected failure after tombstone"):
        b.upsert(spark.createDataFrame(u1), idx)
    assert load_kills(spark, idx) == {}

    u2 = pd.DataFrame({"doc_id": [7], "text": ["gamma replaced seven"]})
    res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(u2), idx)
    assert res["mode"] == "delta" and res["n_changed"] == 1
    # ONLY doc 7 is killed; U1's staged tombstone for doc 3 died with
    # its crashed dir (overwritten by U2's build at the same ord)
    assert load_kills(spark, idx) == {7: res["ord"]}
    lv = live_docs(spark, idx).toPandas()
    assert len(lv) == 30 and lv["doc_id"].is_unique
    assert "alpha" in lv[lv.doc_id == 3]["text"].iat[0] if "text" in lv else True

    v2 = _mutate(v1, {7: "gamma replaced seven"}, {})
    rebuild = str(tmp_path / "orphan_rebuild")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v2), rebuild)
    got = QueryEngine(spark, idx).topk(QUERIES, k=10).toPandas()
    want = QueryEngine(spark, rebuild).topk(QUERIES, k=10).toPandas()
    _assert_same(got, want)


def test_legacy_shared_log_orphans_never_activate(spark, tmp_path):
    """Orphan rows a PRE-STAGING (v0.3) crashed upsert left in the
    shared tombstones log must stay inert even after later upserts
    commit: ord allocation skips past every shared-log ord."""
    v1 = pd.DataFrame(
        {"doc_id": range(20), "text": [f"alpha w{i} beta" for i in range(20)]}
    )
    idx = str(tmp_path / "legacy_orphan_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)
    # simulate the v0.3 crash debris: a shared-log tombstone at ord 1
    # whose delta was never committed
    spark.createDataFrame(
        [(5, 1)], schema="doc_id long, kill_ord int"
    ).coalesce(1).write.mode("append").parquet(f"{idx}/tombstones")
    assert load_kills(spark, idx) == {}

    u = pd.DataFrame({"doc_id": [9], "text": ["omega nine new"]})
    res = IndexBuilder(spark, CFG).upsert(spark.createDataFrame(u), idx)
    # the new delta allocates PAST the orphan ord — never lands on 1
    assert res["ord"] == 2
    assert load_kills(spark, idx) == {9: 2}  # doc 5 still live
    eng = QueryEngine(spark, idx)
    assert eng.n_docs == 20
    hits = eng.topk([(1, "alpha")], k=20).toPandas()
    assert 5 in set(hits["doc_id"])


def test_legacy_markerless_delta_still_visible(spark, tmp_path):
    """Upgrade path: a delta written by a pre-marker version (no
    _COMMITTED, no _INFLIGHT sibling, tombstones in the shared root
    log) must stay committed — queries keep serving the upserted
    state, not silently reverting to the base."""
    import os
    import shutil as sh

    from xml_to_es_spark.operators.index_build import COMMIT_MARKER

    v1 = pd.DataFrame(
        {"doc_id": range(20), "text": [f"alpha w{i} beta" for i in range(20)]}
    )
    idx = str(tmp_path / "legacy_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)
    u = pd.DataFrame({"doc_id": [3], "text": ["omega rewritten three"]})
    IndexBuilder(spark, CFG).upsert(spark.createDataFrame(u), idx)
    before = QueryEngine(spark, idx).topk(QUERIES, k=10).toPandas()

    # rewrite the modern layout into the legacy one: strip the commit
    # marker, move staged tombstones to the shared root log
    ddir = f"{idx}/deltas/delta=1"
    os.remove(f"{ddir}/{COMMIT_MARKER}")
    sh.move(f"{ddir}/tombstones", f"{idx}/tombstones")

    assert len(index_dirs(idx)) == 2  # legacy delta recognized
    assert load_kills(spark, idx) == {3: 1}  # legacy shared-log kill valid
    after = QueryEngine(spark, idx).topk(QUERIES, k=10).toPandas()
    _assert_same(after, before)


def test_base_with_block_bound_columns_matches_rebuild(spark, tmp_path, wand_sides):
    """Indexes written while the postings still carried the per-block
    bound columns (block_max_tf, block_min_dl) stay readable: such a
    base beside an upsert delta without them — and its compaction —
    answers exactly like a rebuild of the updated corpus."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    v1 = _corpus_v1()
    idx = str(tmp_path / "old_idx")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v1), idx)
    # rewrite the base postings in the older layout
    post = Path(idx, "postings")
    for crc in post.rglob("*.crc"):
        crc.unlink()
    files = sorted(post.rglob("*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f)
        blocks = [len(b) for b in t.column("block_last_doc").to_pylist()]
        for name in ("block_max_tf", "block_min_dl"):
            t = t.append_column(name, pa.array(
                [[1] * n for n in blocks], type=pa.list_(pa.int64())
            ))
        # drop Spark's stored row schema, which would hide the columns
        pq.write_table(t.replace_schema_metadata(None), f)
    assert "block_max_tf" in spark.read.parquet(str(post)).columns

    v2 = _mutate(v1, {5: "omega beta fresh text"}, {200: "omega alpha new page"})
    assert IndexBuilder(spark, CFG).upsert(spark.createDataFrame(v2), idx)["mode"] == "delta"
    assert "block_max_tf" not in spark.read.parquet(
        f"{idx}/deltas/delta=1/postings").columns
    compacted = str(tmp_path / "old_idx_compacted")
    IndexBuilder(spark, CFG).compact(idx, compacted)
    rebuild = str(tmp_path / "rebuild")
    IndexBuilder(spark, CFG).build(spark.createDataFrame(v2), rebuild)

    tree = [(9, {"must": [{"match": "alpha"}],
                 "should": [{"match": "omega beta"}]})]
    _, fresh = _rankings(spark, rebuild, wand_sides)
    want_bool = QueryEngine(spark, rebuild).bool_topk(tree, k=10).toPandas()
    for path in (idx, compacted):
        _, got = _rankings(spark, path, wand_sides)
        _assert_same(got["topk"], fresh["topk"])
        for key in WAND_KEYS:
            _assert_same(got[key], fresh["topk"])
        _assert_same(got["dist"], fresh["dist"], exact_scores=False)
        _assert_same(
            QueryEngine(spark, path).bool_topk(tree, k=10).toPandas(),
            want_bool, exact_scores=False,
        )
