"""Checkpoint-resume: kill after K groups, resume, final postings
content identical to an uninterrupted build (north_rule resumability;
SURVEY.md §5.2.4)."""

import pandas as pd
import pytest

from xml_to_es_spark import fixtures
from xml_to_es_spark.config import IndexConfig
from xml_to_es_spark.operators.index_build import IndexBuilder

N = 150


@pytest.fixture(scope="module")
def docs_df(spark):
    from xml_to_es_spark.pyref import extract_text

    pages = fixtures.generate_pages(N, seed=7)
    texts = [extract_text(pages["html"].iat[i].decode()) for i in range(N)]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(N), "text": texts})
    )


def _content_hash(spark, out):
    import pyspark.sql.functions as F

    df = spark.read.parquet(f"{out}/postings")
    row = df.select(
        F.count("*").alias("n"),
        F.expr(
            "bit_xor(xxhash64(term, salt, n_docs, docs_bin, tfs_bin, dls_bin))"
        ).alias("h"),
    ).first()
    return (row["n"], row["h"])


def test_resume_bit_identical(spark, docs_df, tmp_path):
    cfg = IndexConfig(n_groups=4, salt_threshold=40, n_salts=4)
    b = IndexBuilder(spark, cfg)

    full = str(tmp_path / "full")
    b.build(docs_df, full)
    expected = _content_hash(spark, full)

    part = str(tmp_path / "part")
    with pytest.raises(RuntimeError, match="injected failure"):
        b.build(docs_df, part, fail_after_groups=2)
    # resume completes only the missing groups
    res = b.build(docs_df, part, resume=True)
    assert res["groups_built"] == 2
    assert _content_hash(spark, part) == expected

    # second resume is a no-op (idempotent)
    res2 = b.build(docs_df, part, resume=True)
    assert res2["groups_built"] == 0
    assert _content_hash(spark, part) == expected


def test_resume_with_positions_sidecar(spark, docs_df, tmp_path):
    """Crash-resume of a store_positions build: resumed postings are
    content-identical (positions included) to an uninterrupted build,
    and phrase queries work over the resumed index."""
    import pyspark.sql.functions as F

    from xml_to_es_spark.operators.query_engine import (
        QueryEngine,
        bm25_topk_dataframe,
    )

    cfg = IndexConfig(n_groups=3, salt_threshold=40, n_salts=3, store_positions=True)
    b = IndexBuilder(spark, cfg)

    def pos_hash(out):
        df = spark.read.parquet(f"{out}/postings")
        row = df.select(
            F.count("*").alias("n"),
            F.expr(
                "bit_xor(xxhash64(term, salt, n_docs, docs_bin, pos_bin))"
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    full = str(tmp_path / "pfull")
    b.build(docs_df, full)
    part = str(tmp_path / "ppart")
    with pytest.raises(RuntimeError, match="injected failure"):
        b.build(docs_df, part, fail_after_groups=1)
    res = b.build(docs_df, part, resume=True)
    assert res["groups_built"] == 2
    assert pos_hash(part) == pos_hash(full)
    # a phrase exists in the corpus: take two adjacent tokens of doc 0
    from xml_to_es_spark.pyref import tokenize

    t0 = tokenize(docs_df.filter("doc_id = 0").first()["text"])
    phrase = f"{t0[0]} {t0[1]}"
    got = QueryEngine(spark, part).phrase_topk([(1, phrase)], k=10).toPandas()
    expect = bm25_topk_dataframe(
        docs_df, [(1, phrase)], k=10, phrase=True, score_decimals=None
    ).toPandas()
    assert list(got.sort_values("rank")["doc_id"]) == list(
        expect.sort_values("rank")["doc_id"]
    )


def test_resume_rejects_changed_input(spark, docs_df, tmp_path):
    """A resume against a different input snapshot rebuilds (lineage
    key mismatch) rather than mixing corpora."""
    cfg = IndexConfig(n_groups=2)
    b = IndexBuilder(spark, cfg)
    out = str(tmp_path / "idx")
    b.build(docs_df, out)
    h1 = _content_hash(spark, out)

    import pyspark.sql.functions as F

    changed = docs_df.withColumn(
        "text", F.concat(F.col("text"), F.lit(" extraword"))
    )
    res = b.build(changed, out, resume=True)
    assert res["groups_built"] == 2  # nothing skipped: snapshot differs
    assert _content_hash(spark, out) != h1

    # the docs side table must also reflect the NEW corpus — a stale
    # docs_meta checkpoint from the first build would keep the old
    # text_md5 and silently corrupt upsert change-detection
    import pyspark.sql.functions as F

    stale = (
        spark.read.parquet(f"{out}/docs")
        .join(
            changed.select("doc_id", F.md5("text").alias("want_md5")), "doc_id"
        )
        .filter(F.col("text_md5") != F.col("want_md5"))
        .count()
    )
    assert stale == 0
    # and an upsert of the same changed input is a no-op (md5 match)
    res2 = b.upsert(changed, out)
    assert res2["mode"] == "noop"


def test_committed_builds_keep_no_tokens(spark, docs_df, tmp_path):
    """The tokenized intermediate is gone once a build commits its last
    group — fresh, resumed, upsert delta and compaction alike — and an
    unfinished build keeps it so resume still works."""
    from pathlib import Path

    import pyspark.sql.functions as F

    b = IndexBuilder(spark, IndexConfig(n_groups=2))
    out = tmp_path / "idx"
    b.build(docs_df, str(out))
    assert (out / "postings").exists() and not (out / "tokens").exists()

    part = tmp_path / "part"
    with pytest.raises(RuntimeError, match="injected failure"):
        b.build(docs_df, str(part), fail_after_groups=1)
    assert (part / "tokens").exists()
    assert b.build(docs_df, str(part), resume=True)["groups_built"] == 1
    assert not (part / "tokens").exists()

    patch = docs_df.limit(5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extraword"))
    )
    res = b.upsert(patch, str(out))
    assert res["mode"] == "delta"
    assert not (Path(res["delta_dir"]) / "tokens").exists()
    b.compact(str(out), str(tmp_path / "compacted"))
    assert not (tmp_path / "compacted" / "tokens").exists()
