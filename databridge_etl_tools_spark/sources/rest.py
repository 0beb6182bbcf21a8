"""Paginated REST sources (SURVEY §2.1 S6-S8) re-expressed for Spark.

The reference iterates REST pages in generators (knack/knack.py:
105-125, airtable/airtable.py:70-94, ago/ago.py:897-929) and feeds
petl row-by-row. Here pagination stays a driver-side concern (REST
endpoints are inherently sequential cursors), but the fetched pages
land in a DataFrame immediately — ``spark.createDataFrame`` with an
explicit schema, repartitioned so downstream work is distributed.

Pushdown: AGO's ``where``/``outFields``/``outStatistics`` parameters
are filter/projection/aggregation pushdown knobs on the source
(ago/ago.py:905-913); they are plain constructor args here — the
same place a DataSourceV2 `SupportsPushDownFilters` would put them.

Scale note: a cursor API caps extract throughput at one page per
round trip no matter the cluster size; where the service supports
range-partitioned reads (AGO objectid ranges), ``partition_ranges``
fans the fetch out across a thread pool on the driver. True
executor-side fetch would need a DataSourceV2 — noted, not required
by the reference's semantics.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators import route

try:
    import requests
except ImportError:  # pragma: no cover
    requests = None


def _http():
    if requests is None:  # pragma: no cover
        raise ImportError("requests is required for REST sources")
    return requests.Session()


def fetch_with_retry(
    session,
    url: str,
    *,
    params: dict | None = None,
    method: str = "GET",
    json_body: dict | None = None,
    retries: int = 3,
    backoff: float = 1.0,
    timeout: float = 30.0,
):
    """Retry with exponential backoff — the reference's REST policy
    (ago/ago.py:633-649: 3 attempts; ais_geocoder/ais_request.py:6:
    5 attempts, 1-10 s)."""
    last = None
    for attempt in range(retries):
        try:
            r = session.request(method, url, params=params, json=json_body, timeout=timeout)
            r.raise_for_status()
            return r
        except Exception as e:  # noqa: BLE001 - any transport error retries
            last = e
            if attempt < retries - 1:
                time.sleep(min(backoff * (2**attempt), 10.0))
    raise last


def paginate(
    fetch_page: Callable[[Any], tuple[list[dict], Any]],
    first_token: Any = None,
    max_pages: int | None = None,
) -> Iterator[list[dict]]:
    """Generic cursor pagination: ``fetch_page(token) -> (rows,
    next_token)``; stops on empty rows or None token."""
    token, pages = first_token, 0
    while True:
        rows, token = fetch_page(token)
        if rows:
            yield rows
        pages += 1
        if not rows or token is None or (max_pages and pages >= max_pages):
            return


def coerce_value(v, dtype: T.DataType):
    """JSON cell → Spark-typed Python value. Dict/list cells are
    JSON-serialized when the target field is a string (the Knack/
    Airtable convention, knack/knack.py:140-141). Shared by the
    driver-side page loader and the executor-side DataSource."""
    import datetime as dt
    import decimal

    if v is None:
        return None
    if isinstance(dtype, T.StringType):
        return json.dumps(v, sort_keys=True) if isinstance(v, (dict, list)) else str(v)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(str(v))
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return bool(v)
    if isinstance(dtype, (T.TimestampNTZType, T.TimestampType)) and isinstance(v, str):
        parsed = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if parsed.tzinfo is not None:
            # convert to UTC, then drop tzinfo (never just strip an
            # offset — that silently shifts non-UTC feeds)
            parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return parsed
    return v


def records_to_df(
    spark: SparkSession,
    pages: Iterator[list[dict]],
    schema: T.StructType,
    partitions: int | None = None,
) -> DataFrame:
    """Driver-side pages → distributed DataFrame."""
    coerce = coerce_value
    fields = list(schema.fields)
    rows: list[tuple] = []
    for page in pages:
        for rec in page:
            rows.append(tuple(coerce(rec.get(f.name), f.dataType) for f in fields))
    df = route.driver_frame(spark, rows, schema)
    return df.repartition(partitions) if partitions else df


class KnackSource:
    """S6: Knack object records, 1000/page page-number cursor, schema
    synthesized from field metadata (knack/knack.py:33-86, 105-125)."""

    #: Knack field type → Spark type (knack/knack.py:50-86 semantics:
    #: address/connection/multiple-choice serialize to JSON strings).
    TYPE_MAP = {
        "boolean": T.BooleanType(),
        "number": T.DecimalType(38, 8),
        "auto_increment": T.LongType(),
        "date_time": T.TimestampNTZType(),
        "multiple_choice": T.StringType(),
        "connection": T.StringType(),
        "address": T.StringType(),
        "short_text": T.StringType(),
        "paragraph_text": T.StringType(),
    }

    def __init__(self, base_url: str, app_id: str = "", api_key: str = "", rows_per_page: int = 1000):
        self.base_url = base_url.rstrip("/")
        self.rows_per_page = rows_per_page
        self.session = _http()
        self.session.headers.update({"X-Knack-Application-Id": app_id, "X-Knack-REST-API-Key": api_key})

    def schema(self, obj: str) -> T.StructType:
        from ..functions.text import snakecase

        r = fetch_with_retry(self.session, f"{self.base_url}/objects/{obj}/fields")
        fields = [T.StructField("id", T.StringType(), False)]
        for f in r.json()["fields"]:
            fields.append(
                T.StructField(
                    snakecase(f["label"]),
                    self.TYPE_MAP.get(f["type"], T.StringType()),
                    True,
                )
            )
        return T.StructType(fields)

    def extract(self, spark: SparkSession, obj: str, schema: T.StructType | None = None) -> DataFrame:
        schema = schema or self.schema(obj)

        def fetch(page):
            page = page or 1
            r = fetch_with_retry(
                self.session,
                f"{self.base_url}/objects/{obj}/records",
                params={"page": page, "rows_per_page": self.rows_per_page},
            )
            doc = r.json()
            nxt = page + 1 if doc.get("current_page", page) < doc.get("total_pages", page) else None
            return doc.get("records", []), nxt

        return records_to_df(spark, paginate(fetch), schema)


class AirtableSource:
    """S7: Airtable records, offset cursor, optional field projection
    + synthetic objectid (airtable/airtable.py:27-68, 70-94)."""

    def __init__(self, base_url: str, api_key: str = "", rows_per_page: int = 1000):
        self.base_url = base_url.rstrip("/")
        self.rows_per_page = rows_per_page
        self.session = _http()
        if api_key:
            self.session.headers["Authorization"] = f"Bearer {api_key}"

    def extract(
        self,
        spark: SparkSession,
        tbl: str,
        schema: T.StructType,
        get_fields: list[str] | None = None,
        add_objectid: bool = False,
    ) -> DataFrame:
        def fetch(offset):
            params: dict = {"pageSize": self.rows_per_page}
            if offset:
                params["offset"] = offset
            if get_fields:
                params["fields[]"] = get_fields  # projection pushdown
            r = fetch_with_retry(self.session, f"{self.base_url}/{tbl}", params=params)
            doc = r.json()
            recs = [{k.lower(): v for k, v in rec.get("fields", {}).items()} for rec in doc.get("records", [])]
            return recs, doc.get("offset")

        df = records_to_df(spark, paginate(fetch), schema)
        if add_objectid:
            from pyspark.sql import functions as F

            # per-partition monotone id: no global sort at scale
            df = df.withColumn("objectid", F.monotonically_increasing_id())
        return df


class AGOFeatureSource:
    """S8: ArcGIS feature-service query endpoint — offset pagination
    with where/outFields/outStatistics pushdown (ago/ago.py:897-929)."""

    def __init__(self, layer_url: str, token: str = "", batch: int = 1000):
        self.layer_url = layer_url.rstrip("/")
        self.token = token
        self.batch = batch
        self.session = _http()

    def count(self, where: str = "1=1") -> int:
        r = fetch_with_retry(
            self.session,
            f"{self.layer_url}/query",
            params={"where": where, "returnCountOnly": "true", "f": "json", "token": self.token},
        )
        return int(r.json()["count"])

    def extract(
        self,
        spark: SparkSession,
        schema: T.StructType,
        where: str = "1=1",
        out_fields: str = "*",
        out_statistics: str | None = None,
    ) -> DataFrame:
        def fetch(offset):
            offset = offset or 0
            params = {
                "where": where,
                "outFields": out_fields,
                "f": "json",
                "resultOffset": offset,
                "resultRecordCount": self.batch,
                "token": self.token,
            }
            if out_statistics:
                params["outStatistics"] = out_statistics
            r = fetch_with_retry(self.session, f"{self.layer_url}/query", params=params)
            doc = r.json()
            feats = doc.get("features", [])
            rows = [f.get("attributes", {}) for f in feats]
            # advance by what the server RETURNED (its maxRecordCount
            # may cap below our batch); continue while the page was
            # full or the server flags exceededTransferLimit
            more = feats and (
                len(feats) == self.batch or doc.get("exceededTransferLimit")
            )
            return rows, (offset + len(feats) if more else None)

        return records_to_df(spark, paginate(fetch), schema)

    def extract_partitioned(
        self,
        spark: SparkSession,
        schema: T.StructType,
        id_col: str,
        id_ranges: list[tuple[int, int]],
        out_fields: str = "*",
        max_workers: int = 8,
    ) -> DataFrame:
        """Range-partitioned parallel fetch: one paginated scan per id
        range, concurrently — the driver-side analogue of a
        partitioned JDBC read."""
        def one_range(rng):
            lo, hi = rng
            return list(
                paginate(
                    lambda off, lo=lo, hi=hi: self._fetch_range(off, id_col, lo, hi, out_fields)
                )
            )

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            page_lists = list(pool.map(one_range, id_ranges))
        flat = (p for pages in page_lists for p in pages)
        return records_to_df(spark, flat, schema, partitions=len(id_ranges))

    def _fetch_range(self, offset, id_col, lo, hi, out_fields):
        offset = offset or 0
        params = {
            "where": f"{id_col} >= {lo} AND {id_col} < {hi}",
            "outFields": out_fields,
            "f": "json",
            "resultOffset": offset,
            "resultRecordCount": self.batch,
            "token": self.token,
        }
        r = fetch_with_retry(self.session, f"{self.layer_url}/query", params=params)
        doc = r.json()
        feats = doc.get("features", [])
        rows = [f.get("attributes", {}) for f in feats]
        more = feats and (len(feats) == self.batch or doc.get("exceededTransferLimit"))
        return rows, (offset + len(feats) if more else None)
