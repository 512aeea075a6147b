"""Driver-side hand-offs: ``session.local_rows_df`` (every coordinator
answer goes through it) and the engine's local terms-dictionary read."""

import logging

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

import xml_to_es_spark.session as session
from xml_to_es_spark.operators.index_build import MANIFEST_SCHEMA
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
    the error logged at DEBUG. The hand-off runs when an operation
    first needs the JVM relation (here ``limit``)."""
    monkeypatch.setattr(
        SparkSession, "createDataFrame",
        _failing_pandas_create(ValueError("Failed to convert the value")),
    )
    with caplog.at_level(logging.DEBUG, logger="xml_to_es_spark.session"):
        df = session.local_rows_df(spark, [(1, 1, 5, 1.5)], TOPK_SCHEMA)
        rows = df.limit(10).collect()
    assert [tuple(r) for r in rows] == [(1, 1, 5, 1.5)]
    assert any("Arrow conversion failed" in r.getMessage() and r.exc_info
               for r in caplog.records)


def test_other_errors_are_not_masked(monkeypatch, spark):
    """Any other error reaches the caller instead of a silent fallback,
    at the operation that builds the JVM relation."""
    monkeypatch.setattr(
        SparkSession, "createDataFrame",
        _failing_pandas_create(RuntimeError("driver defect")),
    )
    df = session.local_rows_df(spark, [(1, 1, 5, 1.5)], TOPK_SCHEMA)
    with pytest.raises(RuntimeError, match="driver defect"):
        df.limit(10)  # the first operation that needs the JVM relation


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


# atomic schemas the package hands over, each with rows holding None,
# NaN (read as null, as Arrow does) and numpy scalars
ATOMIC_CASES = {
    "topk": (TOPK_SCHEMA, [
        (1, 1, 5, 1.5), (np.int64(1), np.int32(2), np.int64(9), np.float64(0.1)),
        (2, 1, 2**63 - 1, -0.0), (3, None, -2**63, None), (4, 2, 7, float("nan")),
        (5, 3, 8, np.float32(0.1)),
    ]),
    "hits": ("query_id long, doc_id long, score double", [
        (0, 3, 2.25), (0, np.int64(4), 1e-300), (1, 5, float("inf")),
    ]),
    "suggest": ("token string, rank long, suggestion string, distance int, df long", [
        ("spak", 1, "spark", 1, 40), (np.str_("x"), 2, None, None, None),
    ]),
    "terms": ("term string, df long, idf double", [
        ("alpha", np.int64(3), np.float64(1.2)), ("béta", 1, 2.0),
    ]),
    "doc_ids": ("doc_id long", [(1,), (np.uint8(2),), (3.0,)]),
    "manifest": (MANIFEST_SCHEMA, [
        ("postings", 0, "a", "m", 10, 100, 4096, 12, "{}", "done"),
        ("docs", None, None, None, None, None, None, None, None, "open"),
    ]),
    "flags": ("doc_id long, live boolean", [(1, True), (2, np.bool_(False)), (3, None)]),
}


def _cells(rows) -> list[list[tuple]]:
    """Every value with its Python type; floats by their bits."""
    return [
        [(type(v).__name__, v.hex() if isinstance(v, float) else v) for v in r]
        for r in rows
    ]


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(ATOMIC_CASES))
def test_driver_frame_equals_materialized(spark, case, empty):
    """A driver-resident frame answers collect/count/take/toPandas
    exactly as its JVM relation does: same Python types, bit-equal
    doubles, same pandas dtypes."""
    schema, rows = ATOMIC_CASES[case]
    df = session.local_rows_df(spark, [] if empty else rows, schema)
    assert isinstance(df, session.DriverRowsDataFrame)
    jvm = df.limit(10**9)  # the same rows through the JVM relation
    got, want = df.collect(), jvm.collect()
    assert _cells(got) == _cells(want)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert df.count() == jvm.count() == len(got)
    assert _cells(df.take(3)) == _cells(jvm.take(3))
    assert _cells([df.first()] if got else []) == _cells(jvm.take(1))
    assert df.isEmpty() == jvm.isEmpty() == empty
    assert df.columns == jvm.columns and df.schema == jvm.schema
    pd.testing.assert_frame_equal(df.toPandas(), jvm.toPandas())


def test_relation_built_once_and_logged(spark, caplog):
    """The JVM relation is built once, at the first operation that needs
    it, however many joins use the frame; the build is logged at DEBUG
    with the row count and schema."""
    with caplog.at_level(logging.DEBUG, logger="xml_to_es_spark.session"):
        df = session.local_rows_df(spark, [(1, 1, 5, 1.5), (1, 2, 6, 0.5)], TOPK_SCHEMA)
        assert df.collect() and df.toPandas().shape == (2, 4)
        assert not [r for r in caplog.records if "JVM relation" in r.getMessage()]
        other = spark.range(10).withColumnRenamed("id", "doc_id")
        assert df.join(other, "doc_id").count() == 2
        assert df.join(other, "doc_id", "left_anti").count() == 0
    built = [r.getMessage() for r in caplog.records if "JVM relation" in r.getMessage()]
    assert len(built) == 1
    assert "2 driver rows" in built[0] and "doc_id:bigint" in built[0]


@pytest.mark.parametrize("schema,value,exc", [
    ("x long", "3", TypeError),
    ("x long", 2**63, ValueError),
    ("x long", -2**63 - 1, ValueError),
    ("x long", 1.5, TypeError),
    ("x long", True, TypeError),
    ("x int", 2**31, ValueError),
    ("x int", np.int64(-2**31 - 1), ValueError),
    ("x double", "2.5", TypeError),
    ("x double", 2**53 + 1, ValueError),
    ("x double", True, TypeError),
    ("x string", 1, TypeError),
    ("x string", b"x", TypeError),
    ("x boolean", 1, TypeError),
])
def test_bad_values_raise_on_the_driver(spark, schema, value, exc):
    """A value the JVM path refuses (or would coerce) raises when the
    frame is made, naming the field; it never comes back coerced."""
    with pytest.raises(exc, match="field x"):
        session.local_rows_df(spark, [(value,)], schema)


def test_non_atomic_schema_stays_eager(spark):
    """The one non-atomic schema the package passes is handed to the JVM
    at once."""
    df = session.local_rows_df(
        spark, [(1, [0.5, 1.0])], "query_id long, q_vec array<double>")
    assert not isinstance(df, session.DriverRowsDataFrame)
    assert [tuple(r) for r in df.collect()] == [(1, [0.5, 1.0])]
