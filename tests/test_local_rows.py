"""Driver-side hand-offs: ``session.local_rows_df`` (every coordinator
answer goes through it) and the engine's local terms-dictionary read."""

import logging

import pandas as pd
import pytest
from pyspark.sql import SparkSession

import xml_to_es_spark.session as session
from xml_to_es_spark.operators.query_engine import TOPK_SCHEMA


def test_ddl_schema_parsed_once(monkeypatch, spark):
    """A DDL schema string is parsed (a py4j round trip) once, not once
    per call."""
    import pyspark.sql.types as T

    parses = []
    real = T._parse_datatype_string

    def counting(ddl):
        parses.append(ddl)
        return real(ddl)

    monkeypatch.setattr(T, "_parse_datatype_string", counting)
    session._parsed_schema.cache_clear()
    try:
        for _ in range(3):
            rows = session.local_rows_df(spark, [(1, 1, 5, 1.5)], TOPK_SCHEMA).collect()
            assert [tuple(r) for r in rows] == [(1, 1, 5, 1.5)]
        assert parses == [TOPK_SCHEMA]
    finally:
        session._parsed_schema.cache_clear()


def _failing_pandas_create(exc):
    """A createDataFrame that raises ``exc`` for pandas input only (the
    Arrow hand-off), as Arrow conversion failures do."""
    real = SparkSession.createDataFrame

    def create(self, data, *a, **kw):
        if isinstance(data, pd.DataFrame):
            raise exc
        return real(self, data, *a, **kw)

    return create


def test_arrow_conversion_error_falls_back_and_logs(monkeypatch, spark, caplog):
    """An Arrow conversion error falls back to the one-slice RDD, with
    the error logged at DEBUG."""
    monkeypatch.setattr(
        SparkSession, "createDataFrame",
        _failing_pandas_create(ValueError("Failed to convert the value")),
    )
    with caplog.at_level(logging.DEBUG, logger="xml_to_es_spark.session"):
        rows = session.local_rows_df(spark, [(1, 1, 5, 1.5)], TOPK_SCHEMA).collect()
    assert [tuple(r) for r in rows] == [(1, 1, 5, 1.5)]
    assert any("Arrow conversion failed" in r.getMessage() and r.exc_info
               for r in caplog.records)


def test_other_errors_are_not_masked(monkeypatch, spark):
    """Any other error reaches the caller instead of a silent fallback."""
    monkeypatch.setattr(
        SparkSession, "createDataFrame",
        _failing_pandas_create(RuntimeError("driver defect")),
    )
    with pytest.raises(RuntimeError, match="driver defect"):
        session.local_rows_df(spark, [(1, 1, 5, 1.5)], TOPK_SCHEMA)


def test_dictionary_read_error_is_not_masked(monkeypatch, spark, tmp_path):
    """Only a failed local dictionary read (OSError, pyarrow error) falls
    back to the distributed scan; any other error reaches the caller."""
    import pyarrow.dataset as pads

    from xml_to_es_spark import IndexConfig
    from xml_to_es_spark.operators.index_build import IndexBuilder
    from xml_to_es_spark.operators.query_engine import QueryEngine

    idx = str(tmp_path / "idx")
    IndexBuilder(spark, IndexConfig(n_groups=2)).build(
        spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["alpha beta", "beta", "gamma alpha"]})),
        idx,
    )

    # open both engines first: the constructor reads the stats table
    # with pyarrow too, so a patched reader there would fail before the
    # dictionary read is reached
    eng = QueryEngine(spark, idx)
    eng_unreadable = QueryEngine(spark, idx)

    def broken(*a, **kw):
        raise RuntimeError("reader defect")

    monkeypatch.setattr(pads, "dataset", broken)
    with pytest.raises(RuntimeError, match="reader defect"):
        eng.term_stats(["alpha"])

    def unreadable(*a, **kw):
        raise OSError("unreadable")

    monkeypatch.setattr(pads, "dataset", unreadable)
    assert eng_unreadable.term_stats(["alpha"])["alpha"][0] == 2  # the Spark scan answers
    assert eng_unreadable._dict_local_ok is False
