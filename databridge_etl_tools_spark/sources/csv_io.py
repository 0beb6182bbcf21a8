"""CSV source/sink with the reference's conventions (SURVEY §2.1 S2,
§2.2 K2/K6): header row, utf-8→latin-1 fallback, unbounded cell size
(huge WKT cells), gzip artifact copies.

Scale note: reads set ``multiLine=true`` because staged cells may
hold embedded newlines (quoted free text, long WKT). With it Spark
cannot split a file by byte range (a split could start inside a
quoted cell), so each staged file is read whole by a single task:
parallelism comes from the number of files, not their size, and a
single 1 TB staged CSV is one task. Stage large tables as many part
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: mirror of csv.field_size_limit(sys.maxsize)
#: (postgres/postgres.py:17, carto/carto_.py:20, knack/knack.py:11)
_READ_OPTS = {
    "header": "true",
    "maxCharsPerColumn": "-1",
    "multiLine": "true",
    "escape": '"',
    "nullValue": "",
}

REPLACEMENT_CHAR = "�"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encoding: str = "utf-8",
    fallback_encoding: str | None = "iso-8859-1",
) -> DataFrame:
    """Read a staged CSV. The reference retries the whole read with
    latin-1 on a UnicodeDecodeError raised ANYWHERE in the file
    (postgres/postgres.py:292-298); Spark substitutes U+FFFD instead
    of throwing, so the whole frame is probed for replacement
    characters and re-read with the fallback encoding when any
    appear. The probe is one cheap distributed filter+limit(1) — it
    short-circuits on the first hit, and the clean-file full pass is
    the same cost the reference pays (it decodes every byte too)."""
    reader = spark.read.options(**_READ_OPTS).option("encoding", encoding)
    if schema is not None:
        df = reader.schema(schema).csv(path)
    else:
        df = reader.csv(path)
    if fallback_encoding and encoding.lower().replace("-", "") == "utf8":
        bad = df.where(
            F.concat_ws("\x01", *[F.col(c).cast("string") for c in df.columns]).contains(
                REPLACEMENT_CHAR
            )
        ).limit(1).count()
        if bad:
            return read_csv(spark, path, schema, fallback_encoding, None)
    return df


def write_csv(
    df: DataFrame,
    path: str,
    encoding: str = "utf-8",
    gzip: bool = False,
    single_file: bool = False,
) -> None:
    """Write a header-ed CSV (K2); optional gzip artifact (K6,
    opendata/opendata.py:79-90). ``single_file`` coalesces to one
    part for handoff-compatibility with the reference's staging
    convention — only for edge-sized outputs, never for bulk data."""
    out = df.coalesce(1) if single_file else df
    writer = (
        out.write.mode("overwrite")
        .option("header", "true")
        .option("encoding", encoding)
        .option("emptyValue", "")
    )
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.csv(path)
