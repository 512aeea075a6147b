"""Page-table sources: the engine's primary input per BASELINE.json
input_hint — an Iceberg table of Common-Crawl-style pages
(url, warc_ts, html binary, text, lang).

``TableFormat`` seam (SURVEY.md §7): the sandbox has no Iceberg
runtime jar and no network, so `read_pages` activates the Iceberg
catalog path only when the runtime is on the classpath and falls back
to a Parquet directory-table otherwise. All downstream code is
format-agnostic (it sees a DataFrame).

Reference parity: this replaces collectFiles/processFiles/gunzip/unzip
(xml-to-es.js:660-699, 452-639, 398-435) — the catalog does directory
drilling; Spark reads .gz transparently; the table is pre-split one
page per row so the streaming splitter disappears.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


logger = logging.getLogger(__name__)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Py4JJavaError:
        logger.debug("Iceberg runtime not on the classpath", exc_info=True)
        return False


def read_pages(
    spark: SparkSession,
    table_or_path: str,
    langs: tuple[str, ...] | None = ("en",),
    min_html_len: int = 1,
) -> DataFrame:
    """Read the pages table, with the predicate set every index build
    wants pushed into the scan: lang whitelist + non-empty html.
    Catalyst pushes both to Iceberg/Parquet (check .explain for
    PushedFilters).

    ``min_html_len`` filters on the html BYTE length, explicitly
    treating NULL html as length 0 (dropped): the engine always
    re-extracts text from html (BASELINE input_hint), so a NULL-html
    row yields no text downstream regardless of its ``text`` column —
    and filtering on html only keeps the scan pruned to the columns
    the extraction pipeline actually reads."""
    if "/" not in table_or_path and iceberg_available(spark):
        df = spark.read.format("iceberg").load(table_or_path)
    else:
        df = spark.read.schema(PAGES_SCHEMA).parquet(table_or_path)
    if langs:
        df = df.filter(F.col("lang").isin(list(langs)))
    if min_html_len:
        # empty-content docs skipped (reference xml-to-es.js:518-521)
        df = df.filter(
            F.coalesce(F.length(F.col("html")), F.lit(0)) >= min_html_len
        )
    return df


def write_pages(df: DataFrame, table_or_path: str, mode: str = "overwrite") -> None:
    if "/" not in table_or_path and iceberg_available(df.sparkSession):
        df.writeTo(table_or_path).createOrReplace()
    else:
        df.write.mode(mode).parquet(table_or_path)


def decompress_file_bytes(path: str, raw: bytes) -> str | None:
    """Whole-file bytes → text, honouring the reference's compressed
    inputs: ``.gz`` gunzipped (xml-to-es.js:417-426), ``.zip`` unzipped
    with multi-entry archives rejected (xml-to-es.js:398-416 errors on
    >1 entry; the file is skipped). Returns None for a rejected file.

    Spark's native .gz handling only covers line-based text sources;
    binaryFile content arrives compressed, so the convert path must
    decompress here (reference corpus: goodTagsTest.sgm.gz / .sgm.zip,
    test/FileSpecPage.js:113-119)."""
    low = path.lower()
    if low.endswith(".gz"):
        import gzip

        raw = gzip.decompress(raw)
    elif low.endswith(".zip"):
        import io
        import zipfile

        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            names = zf.namelist()
            if len(names) != 1:
                return None  # "too many entries in zipfile" → skip
            raw = zf.read(names[0])
    return raw.decode("utf-8", errors="replace")


def read_raw_files(
    spark: SparkSession, path_glob: str, suffix: str | None = None
) -> DataFrame:
    """Corpus-prep source for file-shaped input (the reference's native
    mode): whole files as (file, content) rows via binaryFile — the
    splitter then runs distributed (one file per task). Suffix filter
    ≙ the reference's `satisfies` extension predicate
    (xml-to-es.js:677-681), pushed down via pathGlobFilter. Content is
    decoded — and .gz/.zip files decompressed — in an Arrow-batched
    kernel (one file per row; the whole-file grain matches binaryFile's)."""
    from collections.abc import Iterator

    import pandas as pd

    reader = spark.read.format("binaryFile")
    if suffix:
        reader = reader.option("pathGlobFilter", f"*{suffix}")
    df = reader.load(path_glob)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out_f, out_c = [], []
            for p, raw in zip(pdf["path"], pdf["content"]):
                text = decompress_file_bytes(p, bytes(raw))
                if text is None:
                    continue
                out_f.append(p)
                out_c.append(text)
            yield pd.DataFrame({"file": out_f, "content": out_c})

    return df.select("path", "content").mapInPandas(
        run, schema="file string, content string"
    )
