"""Text-quality functions, sinks (reference generator parity),
multimodal plumbing, and plan assertions."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xml_to_es_spark.functions import text_quality as tq
from xml_to_es_spark.operators import multimodal
from xml_to_es_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    assert_read_schema_only,
)
from xml_to_es_spark.sources import sinks


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog went to the market and it was great for all of them"),
        (1, "der hund und die katze sind nicht auf der wiese mit den anderen"),
        (2, "le chat et le chien sont dans la maison avec les enfants pour jouer"),
        (3, "xyzzy plugh abracadabra"),
        (4, "el perro y el gato que juegan con los otros para una fiesta del pueblo"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang"] for r in docs.select(
        "doc_id", tq.lang_id("text").alias("lang")).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr" and got[4] == "es"
    assert got[3] == "und"


def test_token_counts_and_quality(spark, docs):
    r = docs.select(
        "doc_id",
        tq.token_count("text").alias("n"),
        tq.whitespace_token_count("text").alias("ws"),
        tq.punct_ratio("text").alias("p"),
        tq.quality_score("text").alias("q"),
        tq.fingerprint("text").alias("fp"),
        tq.rolling_hash("text").alias("rh"),
    ).collect()
    by = {x["doc_id"]: x for x in r}
    assert by[0]["n"] == 17 and by[0]["ws"] == 17
    assert 0.0 <= by[0]["q"] <= 1.0
    assert len(by[0]["fp"]) == 32
    # fingerprint is order-insensitive
    shuffled = spark.createDataFrame(
        pd.DataFrame([(9, "dog the cat market and the went to the it was great and them of for all")],
                     columns=["doc_id", "text"]))
    fp2 = shuffled.select(tq.fingerprint("text").alias("fp")).first()["fp"]
    assert fp2 == by[0]["fp"]
    # rolling hash is order-sensitive
    rh2 = shuffled.select(tq.rolling_hash("text").alias("rh")).first()["rh"]
    assert rh2 != by[0]["rh"]


def test_sinks_roundtrip(spark, tmp_path, docs):
    df = docs.withColumn("title", F.concat(F.lit("T"), F.col("doc_id"))).withColumnRenamed("text", "body")
    out = str(tmp_path / "json")
    sinks.write(df, "json", out, n_files=1)
    back = spark.read.json(out)
    assert back.count() == 5 and set(back.columns) == {"doc_id", "title", "body"}

    jl = sinks.to_json_lines(df).collect()
    assert all(r["json"].startswith("{") for r in jl)

    html = df.select(sinks.html_col(df.columns).alias("h")).collect()
    assert all('<META name="doc_id"' in r["h"] for r in html)
    assert "<body>" in html[0]["h"]

    txt = df.select(sinks.text_only_col().alias("t")).first()["t"]
    assert txt.startswith("T0\n")

    # custom generator plug-in (reference setGenerator contract)
    seen = {}
    sinks.register_generator("probe", lambda d, p: seen.setdefault("n", d.count()))
    sinks.write(df, "probe", "ignored")
    assert seen["n"] == 5


def test_multimodal_features(spark):
    rows = [(i, "image", bytes([i] * (10 + i))) for i in range(6)]
    media = spark.createDataFrame(pd.DataFrame(rows, columns=["media_id", "modality", "data"]))
    out = multimodal.extract_features(media, fake=True).collect()
    assert len(out) == 6
    by = {r["media_id"]: r for r in out}
    assert by[2]["n_bytes"] == 12
    assert len(by[2]["features"]) == multimodal.FEATURE_DIM
    # deterministic: same bytes → same features
    assert by[0]["features"] == multimodal.fake_features(bytes([0] * 10)).tolist()
    # the real decoder is an explicit stub
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.decode_image(b"\xff\xd8")


def test_multimodal_resize_and_embeddings_bridge(spark):
    rows = [(i, "image", bytes([i] * (10 + i))) for i in range(6)]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "modality", "data"])
    )
    resized = multimodal.resize_media(media, 32, 16, fake=True)
    got = {r["media_id"]: r for r in resized.collect()}
    assert len(got) == 6
    assert got[3]["meta"] == {"width": "32", "height": "16"}
    assert len(got[3]["data"]) == 32 * 16 // 64
    # deterministic: same input + target → same payload
    assert bytes(got[0]["data"]) == multimodal.fake_resize(bytes([0] * 10), 32, 16)
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.resize_image(b"\xff\xd8", 2, 2)
    # media features feed the ANN operators directly
    from xml_to_es_spark.operators.similarity import cosine_topk

    emb = multimodal.media_embeddings(media)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    top = cosine_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == 1.0


def test_repartition_by_bytes(spark):
    rows = [(i, "image", bytes(1000)) for i in range(100)]
    media = spark.createDataFrame(pd.DataFrame(rows, columns=["media_id", "modality", "data"]))
    df = multimodal.repartition_by_bytes(media, target_bytes=20_000)
    assert df.rdd.getNumPartitions() == 5  # 100KB / 20KB


def test_plan_pushdown_and_broadcast(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    assert_pushed_filter(q, "l_orderkey")
    assert_read_schema_only(q, {"l_orderkey", "l_quantity"})
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    assert_broadcast_join(j)


def test_iceberg_available_false_without_runtime(spark, caplog):
    """A missing Iceberg runtime class reads as False (the Parquet
    fallback) and the JVM's ClassNotFoundException reaches the DEBUG
    log instead of being dropped."""
    import logging

    from xml_to_es_spark.sources.pages import iceberg_available

    with caplog.at_level(logging.DEBUG, logger="xml_to_es_spark.sources.pages"):
        assert iceberg_available(spark) is False
    assert any("Iceberg runtime" in r.message for r in caplog.records)
