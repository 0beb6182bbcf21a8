"""CSV source/sink with the reference's conventions (SURVEY §2.1 S2,
§2.2 K2/K6): header row, utf-8→latin-1 fallback, unbounded cell size
(huge WKT cells), gzip artifact copies.

Header read: a staged CSV is read under the schema its header line
declares, parsed on the driver (:func:`header_schema`) — the first
record of the first non-empty data file, opened through the Hadoop
``FileSystem`` and compression codec Spark's own reader uses, so any
path Spark can read (a glob, a directory of part files, a ``.csv.gz``)
works. With ``inferSchema`` off, Spark's header inference yields that
same all-string schema, but costs a Spark job per read; this costs
none.

Encoding fallback: :func:`read_csv` still probes its frame for U+FFFD
(a 2-job scan) for direct callers. The staged-load pipelines
(``plans/pipelines.py``) read with ``fallback_encoding=None`` instead:
they count U+FFFD hits (:func:`replacement_flag`) as an observed
metric of the segment write itself and redo the load with latin-1 only
when that count is above zero. A header that does not decode as UTF-8
switches to the fallback encoding before any job runs, on both paths.

Scale note: reads set ``multiLine=true`` because staged cells may
hold embedded newlines (quoted free text, long WKT). With it Spark
cannot split a file by byte range (a split could start inside a
quoted cell), so each staged file is read whole by a single task:
parallelism comes from the number of files, not their size, and a
single 1 TB staged CSV is one task. Stage large tables as many part
files.
"""

from __future__ import annotations

import codecs
import csv
import re

from pyspark.sql import Column, DataFrame, SparkSession
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

LATIN1 = "iso-8859-1"

_CHUNK = 1 << 16
_LINE_BREAK = re.compile(r"\r\n|\r|\n")
_LINE_END = re.compile(r"(?<=\n)|(?<=\r)(?!\n)")


def _is_utf8(encoding: str) -> bool:
    return encoding.lower().replace("-", "").replace("_", "") == "utf8"


def _data_files(spark: SparkSession, conf, path: str) -> list:
    """The files Spark's file index reads for ``path``, as Hadoop
    ``Path`` objects in path order: the glob's matches, directories
    walked recursively, names starting with ``_`` or ``.``
    (``_SUCCESS``, checksums, ``_temporary``) skipped as Spark skips
    them."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    files, todo = [], list(fs.globStatus(hpath) or [])
    while todo:
        st = todo.pop()
        if st.isDirectory():
            todo.extend(
                c for c in fs.listStatus(st.getPath())
                if not c.getPath().getName().startswith(("_", "."))
            )
        else:
            files.append(st.getPath())
    return sorted(files, key=lambda p: p.toString())


def _first_record(spark: SparkSession, conf, path, encoding: str) -> "list[str] | None":
    """First CSV record of one file (decompressed by the codec its
    name selects), or None when the file holds none. Reads only the
    chunks the record spans: ``csv.reader`` pulls lines until the
    record (quoted line breaks included) is complete."""
    codec = spark._jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(path)
    stream = path.getFileSystem(conf).open(path)
    if codec is not None:
        stream = codec.createInputStream(stream)
    read: list[str] = []

    def lines():
        # the parser drops a UTF-8 byte order mark
        decoder = codecs.getincrementaldecoder(
            "utf-8-sig" if _is_utf8(encoding) else encoding
        )(errors="replace")
        buf = ""
        while True:
            chunk = bytes(stream.readNBytes(_CHUNK))
            buf += decoder.decode(chunk, final=not chunk)
            *done, buf = _LINE_END.split(buf)
            if not chunk and buf:
                done.append(buf)
            read.extend(done)
            yield from done
            if not chunk:
                return

    try:
        # blank lines parse as [] and are skipped, as the parser does
        names = next((r for r in csv.reader(lines()) if r), None)
    finally:
        stream.close()
    if names is None:
        return None
    # quoted line breaks come back as "\n" when they match the file's
    # line separator (the parser detects it from the first break seen)
    sep = _LINE_BREAK.search("".join(read))
    return [n.replace(sep.group(), "\n") for n in names] if sep else names


def header_schema(spark: SparkSession, path: str, encoding: str = "utf-8") -> T.StructType:
    """The all-string schema Spark's header inference reports for a
    staged CSV under ``_READ_OPTS``, built on the driver without a
    Spark job: the first record of the first data file that has one,
    with Spark's safe-header renames (an empty name becomes ``_c<i>``;
    names repeated, case-insensitively unless
    ``spark.sql.caseSensitive``, get their index appended). A file
    set with no record gives the empty schema, as inference does."""
    # the Hadoop configuration Spark's file sources use (session confs
    # included), so the header is read from wherever the data is
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    names = None
    for f in _data_files(spark, conf, path):
        names = _first_record(spark, conf, f, encoding)
        if names is not None:
            break
    if names is None:
        return T.StructType([])
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    keyed = [n if case_sensitive else n.lower() for n in names]
    dups = {k for k in keyed if keyed.count(k) > 1}
    safe = [
        f"_c{i}" if n == "" else f"{n}{i}" if k in dups else n
        for i, (n, k) in enumerate(zip(names, keyed))
    ]
    return T.StructType([T.StructField(n, T.StringType()) for n in safe])


def replacement_flag(df: DataFrame) -> Column:
    """True for a row any of whose cells holds U+FFFD: what Spark
    substitutes for bytes the read encoding cannot decode."""
    return F.concat_ws("\x01", *[F.col(c).cast("string") for c in df.columns]).contains(
        REPLACEMENT_CHAR
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encoding: str = "utf-8",
    fallback_encoding: str | None = LATIN1,
) -> DataFrame:
    """Read a staged CSV. The reference retries the whole read with
    latin-1 on a UnicodeDecodeError raised ANYWHERE in the file
    (postgres/postgres.py:292-298); Spark substitutes U+FFFD instead
    of throwing, so a header holding it switches encoding at once,
    and otherwise the whole frame is probed for replacement
    characters and re-read with the fallback encoding when any
    appear. The probe is one cheap distributed filter+limit(1) — it
    short-circuits on the first hit, and the clean-file full pass is
    the same cost the reference pays (it decodes every byte too).
    ``fallback_encoding=None`` reads with no probe and no job."""
    fallback = fallback_encoding if fallback_encoding and _is_utf8(encoding) else None
    declared = schema if schema is not None else header_schema(spark, path, encoding)
    if fallback and schema is None and REPLACEMENT_CHAR in "".join(declared.fieldNames()):
        return read_csv(spark, path, None, fallback, None)
    df = spark.read.options(**_READ_OPTS).option("encoding", encoding).schema(declared).csv(path)
    if fallback and df.where(replacement_flag(df)).limit(1).count():
        return read_csv(spark, path, schema, fallback, None)
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
