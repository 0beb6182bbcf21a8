"""Extended analytics queries: sessionization, pivot, cube, as-of
join, binary-column stats — Spark built-ins the reference lacks
entirely (SURVEY §2.5 'absent' list) plus the multimodal metadata
pass. Each has an independent DuckDB oracle (DuckDB's native ASOF
JOIN checks our window-based as-of implementation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import route
from ..operators.multimodal import binary_stats
from ..registry import query, table
from ..streaming.events import sessionize_batch

#: rows above which a per-key stats table (per-user medians/MADs)
#: joins by shuffle instead of broadcast — per-user tables are
#: corpus-sized in principle (10⁸ users at 100 TB)
_STATS_BROADCAST_MAX_ROWS = 4_000_000


@query(
    "events_sessionize",
    oracle="""
    WITH w AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) >= 30*60*1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM w),
    sess AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flags)
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + running boundary sum,
    one shuffle on user_id. The streaming twin is
    ``streaming.events.sessionize_stream`` (session_window)."""
    ev = table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30)


@query(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_pending
    FROM orders GROUP BY 1
    """,
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation) — map-side combinable,
    single shuffle on the group key."""
    o = table(spark, sf_dir, "orders", access="scan")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .withColumnsRenamed({"O": "n_open", "F": "n_filled", "P": "n_pending"})
    )


@query(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations incl. grand total)."""
    li = table(spark, sf_dir, "lineitem", access="scan")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).cast("double").alias("qty"),
    )


@query(
    "asof_purchase_last_view",
    oracle="""
    WITH views AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for each purchase, the
    most recent view of the same user at ts ≤ purchase time.

    Implementation: union-tag both streams, order by (ts, tag) per
    user, carry the last non-null view timestamp forward — one
    shuffle on user_id, no range join. DuckDB's native ASOF JOIN is
    the independent oracle."""
    ev = table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts"), F.lit(None).cast("bigint").alias("event_id"), F.lit(0).alias("tag")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id"), F.lit(1).alias("tag")
    )
    tagged = views.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.withColumn(
        "last_view_ts",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("tag") == 1).select(
        "event_id", "user_id", "ts", "last_view_ts"
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column access (F19/F21 read side): parse the ``props``
    JSON payload JVM-side (get_json_object) and aggregate a field."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5)  AS p50,
           quantile_cont(o_totalprice, 0.9)  AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY 1
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based; at scale
    prefer approx_percentile — t-digest sketch, no global sort — which
    is deliberately not oracle-checked because sketch internals are
    engine-specific)."""
    o = table(spark, sf_dir, "orders", access="scan")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH n AS (SELECT n_nationkey, lower(n_name) AS name FROM nation)
    SELECT a.n_nationkey AS id_a, b.n_nationkey AS id_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
    FROM n a JOIN n b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity dedup: edit-distance pairs under a threshold.
    Quadratic in the entity count — appropriate for dimension-sized
    tables (here: nations); at corpus scale, pre-bucket by length or
    LSH first and apply this as the in-bucket verifier."""
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.lower("n_name").alias("name")
    )
    a = n.select(F.col("n_nationkey").alias("id_a"), F.col("name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("id_b"), F.col("name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(dist <= 4)
        .select("id_a", "id_b", dist.cast("int").alias("dist"))
    )


@query(
    "range_join_interval_counts",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS interval_id,
             ts_start, ts_start + INTERVAL 2 DAY AS ts_end
      FROM (SELECT o_orderkey,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + to_days((o_orderkey % 28)::INTEGER) AS ts_start
            FROM orders WHERE o_orderkey % 97 = 0))
    SELECT iv.interval_id, COUNT(e.event_id) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(38,2))) AS DOUBLE) AS total_value
    FROM iv JOIN events e ON e.ts >= iv.ts_start AND e.ts < iv.ts_end
    GROUP BY 1
    """,
)
def range_join_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (no equi-key): events falling inside 2-day intervals,
    via the bucketized interval_join operator (equi-join on day
    buckets + residual containment filter — the scale path; the naive
    plan is a nested-loop). Oracle: DuckDB native inequality join."""
    from ..operators.rangejoin import interval_join

    ev = table(spark, sf_dir, "events")
    iv = (
        table(spark, sf_dir, "orders", access="scan")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("interval_id"),
            F.timestamp_add(
                "DAY",
                (F.col("o_orderkey") % 28).cast("int"),
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
            ).alias("ts_start"),
        )
        .withColumn("ts_end", F.timestamp_add("DAY", F.lit(2), F.col("ts_start")))
    )
    joined = interval_join(
        ev, iv, "ts", "ts_start", "ts_end", 1440, broadcast_intervals=True
    )
    return joined.groupBy("interval_id").agg(
        F.count("event_id").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total_value"),
    )


@query(
    "range_join_left_outer",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey AS interval_id,
             ts_start, ts_start + INTERVAL 2 DAY AS ts_end
      FROM (SELECT o_orderkey,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + to_days((o_orderkey % 28)::INTEGER) AS ts_start
            FROM orders WHERE o_orderkey % 97 = 0))
    SELECT COALESCE(iv.interval_id, -1) AS interval_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(38,2))) AS DOUBLE) AS total_value
    FROM events e LEFT JOIN iv ON e.ts >= iv.ts_start AND e.ts < iv.ts_end
    GROUP BY 1
    """,
)
def range_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER range join (the enrichment shape — reference
    analogue: AIS geocoder keep-unmatched left-join semantics,
    ais_geocoder/ais_geocoder.py:40-114): every event keeps its row,
    events inside no interval surface under the -1 group. Bucketized
    inner join + bucketized anti join — both hash joins; no
    nested-loop plan at any scale. Oracle: DuckDB native inequality
    LEFT JOIN."""
    from ..operators.rangejoin import interval_join

    ev = table(spark, sf_dir, "events")
    iv = (
        table(spark, sf_dir, "orders", access="scan")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("interval_id"),
            F.timestamp_add(
                "DAY",
                (F.col("o_orderkey") % 28).cast("int"),
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
            ).alias("ts_start"),
        )
        .withColumn("ts_end", F.timestamp_add("DAY", F.lit(2), F.col("ts_start")))
    )
    joined = interval_join(
        ev, iv, "ts", "ts_start", "ts_end", 1440, how="left", broadcast_intervals=True
    )
    return joined.groupBy(
        F.coalesce("interval_id", F.lit(-1)).alias("interval_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total_value"),
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY 1
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a hot key (l_returnflag has ~3
    values → 3 reducers own everything in the naive plan; salting
    spreads each key over 16 buckets first). Result is bit-identical
    to the direct plan for exact types — the oracle IS the direct
    plan."""
    from ..operators.skew import salted_agg

    li = table(spark, sf_dir, "lineitem", access="scan")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": ("sum", F.count(F.lit(1))),
            "qty": ("sum", F.sum(F.col("l_quantity").cast("decimal(38,2)"))),
            "revenue": ("sum", F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))),
        },
        salt_buckets=16,
    )
    return out.withColumns(
        {"qty": F.col("qty").cast("double"), "revenue": F.col("revenue").cast("double")}
    )


@query(
    "text_vocabulary_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')) AS tok
      FROM documents)
    SELECT tok, n, rank FROM (
      SELECT tok, COUNT(*) AS n,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS rank
      FROM tok GROUP BY tok) t
    WHERE rank <= 50
    """,
)
def text_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction: top-50 tokens by frequency.

    Scale note: ``row_number().over(Window.orderBy(…))`` + ``rank <=
    50`` looks like the single-partition-window anti-pattern, but
    Spark's ``LimitPushDownThroughWindow`` rule rewrites a row_number
    window whose rank is immediately limit-filtered into
    ``TakeOrderedAndProject(limit=50)`` — a tree-reduce over
    per-partition top-50s with NO full-table single-partition sort;
    the Window then ranks only the surviving 50 rows. Pinned by
    ``tests/test_plans.py`` (TakeOrderedAndProject present, no
    ``Exchange SinglePartition`` below it). Contrast ``build_vocab``
    (operators/vocab.py), which needs EVERY rank and therefore uses
    the explicit two-pass range-partition + offset recipe."""
    from ..operators.textstats import tokens

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    return counts.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 50)


@query(
    "above_customer_average",
    oracle="""
    WITH stats AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
      FROM orders GROUP BY o_custkey)
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, s.avg_price AS cust_avg
    FROM orders o JOIN stats s ON o.o_custkey = s.o_custkey
    WHERE o.o_totalprice > 1.5 * s.avg_price
    """,
)
def above_customer_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape ('orders above 1.5x their customer's
    average'), decorrelated into a window aggregate — one shuffle on
    the correlation key instead of a per-row subquery."""
    o = table(spark, sf_dir, "orders", access="scan")
    w = Window.partitionBy("o_custkey")
    avg_price = (
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        o.withColumn("cust_avg", avg_price)
        .where(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: nation subtotals, region subtotals, grand
    total in one pass (hierarchical complement to cube_flag_status)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.select(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"), "c_acctbal"
        )
        .rollup("region_name", "nation_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")).cast("double").alias("total_balance"),
        )
    )


@query(
    "mm_binary_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass on an opaque binary column (here the
    UTF-8 bytes of text standing in for media content): byte length +
    content hash, never leaving the JVM."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    return binary_stats(docs, "content", "doc_id")


@query(
    "user_event_sequences",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             list(event_type ORDER BY ts, event_id) AS all_events
      FROM events GROUP BY 1)
    SELECT user_id, n_events,
           array_to_string(
             all_events[greatest(len(all_events) - 10 + 1, 1):len(all_events)],
             ' ') AS last_events
    FROM seqs
    """,
    gate=False,
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interaction sequences
    (``operators.sequences.user_sequences``): each user's last 10
    events in (ts, event_id) total order — the fixed-length history
    feature of sequential/recommender training examples. One
    user-keyed mergeable aggregation; ordering happens inside the
    collected array (array_sort over structs), never a global sort,
    so the sequence is identical under any partitioning — which the
    ordered-list DuckDB oracle confirms."""
    from ..operators.sequences import user_sequences

    ev = table(spark, sf_dir, "events")
    seq = user_sequences(ev, last_n=10)
    # the sequence is emitted as a joined string: the gate comparator
    # normalizes scalar column types only, so array-typed outputs are
    # kept out of oracle-checked results by convention
    return seq.select(
        "user_id", "n_events", F.array_join("last_events", " ").alias("last_events")
    )


@query(
    "user_daily_features",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2),
    d2 AS (
      SELECT *, datediff('day', DATE '1970-01-01', day) AS dnum FROM daily)
    SELECT user_id, day, n_events, n_purchases, total_value,
           CAST(COUNT(*) OVER w AS BIGINT) AS active_days_7d,
           CAST(SUM(n_events) OVER w AS DOUBLE) / (COUNT(*) OVER w)
             AS avg_events_7d
    FROM d2
    WINDOW w AS (PARTITION BY user_id ORDER BY dnum
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    gate=False,
)
def user_daily_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity features with trailing 7-day windows —
    the feature-engineering shape of behavioral training data: daily
    event/purchase counts and value, plus a RANGE-frame moving
    average keyed on the integer day number (a calendar range frame,
    not a row frame — gap days shrink the window honestly). Two
    shuffles: the daily aggregation and the user-keyed window; the
    moving average divides two integer window aggregates, so the
    double is engine-identical."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total_value"),
    )
    d2 = daily.withColumn("dnum", F.datediff(F.col("day"), F.lit("1970-01-01")))
    w7 = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(-6, 0)
    return d2.select(
        "user_id",
        "day",
        "n_events",
        "n_purchases",
        "total_value",
        F.count(F.lit(1)).over(w7).alias("active_days_7d"),
        (
            F.sum("n_events").over(w7).cast("double") / F.count(F.lit(1)).over(w7)
        ).alias("avg_events_7d"),
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    c AS (
      SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1),
    j AS (
      SELECT c.cohort_day,
             datediff('day', c.cohort_day, d.day) AS day_offset,
             d.user_id
      FROM d JOIN c USING (user_id))
    SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM j GROUP BY 1, 2
    """,
    gate=False,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis: users grouped by first-seen day,
    activity counted at each day offset — the classic retention
    triangle. Three shuffles, all user- or cohort-keyed (distinct
    user-days, the cohort min, the offset count); integer arithmetic
    end-to-end, so the oracle hash is exact by construction."""
    ev = table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = d.join(c, "user_id").select(
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        "user_id",
    )
    return j.groupBy("cohort_day", "day_offset").agg(
        F.count_distinct("user_id").alias("n_active_users")
    )


@query(
    "session_funnel",
    oracle="""
    WITH w AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) >= 30*60*1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM w),
    sess AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flags),
    stages AS (
      SELECT user_id, session_seq,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM sess GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM stages
    """,
    gate=False,
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session funnel analysis (view → click → purchase in strict
    temporal order within a 30-minute-gap session): per-session first
    timestamps of each stage, conjunctive ordering tests, one global
    rollup. Reuses the gap sessionizer's shuffle; the stage pivot is
    a conditional MIN inside the same session aggregation — no extra
    pass, no self-joins per stage (the naive funnel join explodes at
    scale; conditional aggregation doesn't)."""
    from ..streaming.events import tag_sessions

    ev = table(spark, sf_dir, "events")
    tagged = tag_sessions(ev, gap_minutes=30)
    stages = tagged.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(viewed.cast("bigint")).alias("n_viewed"),
        F.sum(clicked.cast("bigint")).alias("n_view_then_click"),
        F.sum(purchased.cast("bigint")).alias("n_full_funnel"),
    )


@query(
    "asof_attribution_window",
    oracle="""
    WITH views AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    m AS (
      SELECT p.event_id, p.user_id, p.ts, p.value, v.ts AS v_ts
      FROM purchases p
      ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts)
    SELECT event_id, user_id, ts, value,
           CASE WHEN v_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(v_ts) <= 30*60*1000000
                THEN v_ts END AS asof_view_ts,
           (v_ts IS NOT NULL
            AND epoch_us(ts) - epoch_us(v_ts) <= 30*60*1000000) AS attributed
    FROM m
    """,
    gate=False,
)
def asof_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of attribution
    (``operators.rangejoin.asof_join``): each purchase attributed to
    the user's most recent view only if it happened within 30
    minutes — the marketing-attribution contract (a view from last
    week doesn't get credit). The generic operator's tolerance path;
    one user-keyed shuffle. DuckDB's native ASOF JOIN plus an
    explicit window test is the independent oracle."""
    from ..operators.rangejoin import asof_join

    ev = table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        views,
        by="user_id",
        left_on="ts",
        right_on="ts",
        direction="backward",
        tolerance_us=30 * 60 * 1_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("asof_ts").alias("asof_view_ts"),
        F.col("asof_ts").isNotNull().alias("attributed"),
    )


@query(
    "user_activity_anomalies",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    d2 AS (
      SELECT *, datediff('day', DATE '1970-01-01', day) AS dnum FROM daily),
    stats AS (
      SELECT user_id, day, n_events,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_base,
             CAST(SUM(n_events) OVER w AS BIGINT) AS s,
             CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS ss
      FROM d2
      WINDOW w AS (PARTITION BY user_id ORDER BY dnum
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT user_id, day, n_events, n_base,
           CASE WHEN n_base > 0
                THEN CAST(s AS DOUBLE) / n_base END AS baseline_mean,
           CASE WHEN n_base >= 2
                THEN (n_base * ss - s * s)
                     / (CAST(n_base AS DOUBLE) * (n_base - 1)) END AS baseline_var,
           (n_base >= 3 AND n_events >
              CAST(s AS DOUBLE) / n_base
              + 3.0 * sqrt((n_base * ss - s * s)
                           / (CAST(n_base AS DOUBLE) * (n_base - 1))))
             AS is_anomaly
    FROM stats
    """,
    gate=False,
)
def user_activity_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral anomaly flags: a user-day is anomalous when its
    event count exceeds mean + 3σ of the user's trailing 7-day
    baseline (current day excluded). The variance comes from INTEGER
    window moments — ``(n·Σx² − (Σx)²) / (n·(n−1))`` — so the double
    is one deterministic expression over exact integers; a windowed
    ``stddev`` aggregate would reduce doubles in partial-agg order
    and break cross-engine hashing. One user-keyed window shuffle
    over the (tiny) daily aggregate."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    d2 = daily.withColumn("dnum", F.datediff(F.col("day"), F.lit("1970-01-01")))
    w = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(-7, -1)
    n_base = F.count(F.lit(1)).over(w)
    s = F.sum("n_events").over(w)
    ss = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    stats = d2.select(
        "user_id", "day", "n_events",
        n_base.alias("n_base"), s.alias("s"), ss.alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_base")
    var = (F.col("n_base") * F.col("ss") - F.col("s") * F.col("s")) / (
        F.col("n_base").cast("double") * (F.col("n_base") - 1)
    )
    return stats.select(
        "user_id", "day", "n_events", "n_base",
        F.when(F.col("n_base") > 0, mean).alias("baseline_mean"),
        F.when(F.col("n_base") >= 2, var).alias("baseline_var"),
        (
            (F.col("n_base") >= 3)
            & (F.col("n_events") > mean + F.lit(3.0) * F.sqrt(var))
        ).alias("is_anomaly"),
    )


def _mm_image_oracle(n_docs: int = 200, w: int = 24, h: int = 18) -> str:
    """DuckDB replay of mm_image_neardup (r9 promotion — the last
    'pixel decode seam' excuse dissolved for the DEMO data, which is
    md5-synthetic by construction): the P6 pixel stream is
    md5('ppm:{seed}:{k}') digests, so every sampled byte is
    substr(md5(...)) arithmetic; the r9 integer aHash (channel-sum
    cells, ``64·cell > Σcells`` mean compare cleared of denominators)
    has no float op left; and the banded hamming join is pigeonhole-
    EXACT for distance ≤ 4 at 5 bands, so the twin's brute-force
    bit_count(xor) ≤ 4 pair set equals the operator's banded output
    by theorem (pinned in tests/test_multimodal_streaming.py). The
    real-image decode (PPM/Pillow) stays the operator's honest
    Python/Arrow seam — the oracle covers the full hash+join
    pipeline over bytes it can regenerate."""
    hdr = len(f"P6\n{w} {h}\n255\n".encode())
    cellbytes = []
    for ci in range(64):
        r, c = ci // 8, ci % 8
        p = (r * h // 8) * w + (c * w // 8)
        for ch in range(3):
            cellbytes.append((ci, 3 * p + ch))
    cb_values = ", ".join(f"({ci}, {pb})" for ci, pb in cellbytes)
    return f"""
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {n_docs}),
    ds AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END
                    AS seed,
                  doc_id % 10 = 9 AS noised
           FROM d),
    cb(ci, pb) AS (VALUES {cb_values}),
    bytes AS (
      SELECT ds.doc_id, cb.ci,
             CAST('0x' || substr(md5('ppm:' || CAST(ds.seed AS VARCHAR) || ':'
                                     || CAST(cb.pb // 16 AS VARCHAR)),
                                 2 * (cb.pb % 16) + 1, 2) AS BIGINT) AS raw,
             ds.noised AND cb.pb BETWEEN {20 - hdr} AND {31 - hdr} AS bump
      FROM ds, cb),
    cells AS (
      SELECT doc_id, ci,
             CAST(SUM(CASE WHEN bump THEN least(255, raw + 1) ELSE raw END)
                  AS BIGINT) AS s
      FROM bytes GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS total
            FROM cells GROUP BY 1),
    sig AS (
      SELECT c.doc_id,
             CAST(SUM(CASE WHEN c.ci < 60 AND 64 * c.s > t.total
                           THEN CAST(1 AS HUGEINT) << c.ci ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM cells c JOIN tot t USING (doc_id) GROUP BY 1)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """


@query("mm_image_neardup", oracle=_mm_image_oracle(), gate=False)
def mm_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection on the multimodal seam
    (``operators.multimodal.image_ahash`` + ``dedup.
    hamming_near_pairs``): deterministic P6-PPM images derived from
    doc ids, with every 10th document carrying a lightly-noised copy
    of its predecessor's image — the pipeline must find exactly those
    planted near-dups. One Arrow decode pass → 60-bit perceptual
    hash → pigeonhole-exact banded hamming join; never n² image
    comparisons. PROMOTED from rows-only in r9: the r9 integer aHash
    plus the md5-synthetic demo pixels make decode → hash → pairs
    fully replayable (see ``_mm_image_oracle``)."""
    from ..operators.multimodal import image_neardup_pairs, pack_ppm_random

    # orderBy before limit: LIMIT without ORDER BY is not
    # contractually deterministic across layouts/partitionings
    # (advisor finding r5); TakeOrderedAndProject keeps it one pass.
    docs = table(spark, sf_dir, "documents").select("doc_id").orderBy("doc_id").limit(200)
    rows = docs.collect()

    def content(i: int) -> bytes:
        if i % 10 == 9:  # noised copy of the previous doc's image
            base = bytearray(pack_ppm_random(24, 18, seed=i - 1))
            for off in range(20, 32):
                base[off] = min(255, base[off] + 1)
            return bytes(base)
        return pack_ppm_random(24, 18, seed=i)

    items = route.driver_frame(
        spark,
        [(int(r["doc_id"]), content(int(r["doc_id"]))) for r in rows],
        "item_id bigint, content binary",
    )
    return image_neardup_pairs(items, max_hamming=4)


def _mm_audio_oracle(n_docs: int = 200, n_samples: int = 488) -> str:
    """DuckDB replay of mm_audio_neardup — the audio twin of
    ``_mm_image_oracle``: FAKEAUD samples are md5('aud:{seed}:{k}')
    digest bytes, so every sample is substr(md5(...)) arithmetic. The
    derivative-sign fingerprint needs only INTEGER frame sums (n=488
    makes every one of the 61 frames exactly 8 samples, so the
    mean compare frames[i+1] > frames[i] is the sum compare
    s[i+1] > s[i] with equal counts), and the banded hamming join is
    pigeonhole-exact ≤ 4 bits at 5 bands — the twin's brute-force
    bit_count(xor) ≤ 4 pair set equals the operator's banded output
    by theorem. The real WAV decode stays the operator's honest
    Arrow seam; the oracle covers fingerprint → pairs over bytes it
    can regenerate."""
    assert n_samples % 61 == 0 and n_samples % 16 != 1
    return f"""
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {n_docs}),
    ds AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END
                    AS seed,
                  doc_id % 10 = 9 AS noised
           FROM d),
    bytes AS (
      SELECT ds.doc_id, CAST(u.j // 8 AS INTEGER) AS fi,
             CAST('0x' || substr(md5('aud:' || CAST(ds.seed AS VARCHAR) || ':'
                                     || CAST(u.j // 16 AS VARCHAR)),
                                 2 * (u.j % 16) + 1, 2) AS BIGINT) AS raw,
             ds.noised AND u.j BETWEEN 100 AND 111 AS bump
      FROM ds, range({n_samples}) AS u(j)),
    sums AS (
      SELECT doc_id, fi,
             CAST(SUM(CASE WHEN bump THEN least(255, raw + 1) ELSE raw END)
                  AS BIGINT) AS s
      FROM bytes GROUP BY 1, 2),
    sig AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN b.s > a.s
                           THEN CAST(1 AS HUGEINT) << a.fi ELSE 0 END)
                  AS BIGINT) AS afp
      FROM sums a JOIN sums b ON a.doc_id = b.doc_id AND b.fi = a.fi + 1
      WHERE a.fi < 60 GROUP BY 1)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= 4
    """


@query("mm_audio_neardup", oracle=_mm_audio_oracle(), gate=False)
def mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection on the multimodal seam
    (``operators.multimodal.audio_fingerprint`` + banded hamming
    join): deterministic FAKEAUD clips derived from doc ids, with
    every 10th document carrying a lightly-bumped copy of its
    predecessor's clip (an offset bump only moves frame means where
    it lands, flipping ≤ 3 derivative-sign bits — the gain/offset
    robustness the fingerprint is built for). One Arrow decode pass →
    60-bit derivative-sign fingerprint → pigeonhole-exact banded
    hamming join; never n² waveform comparisons. Fully
    DuckDB-replayable because the demo samples are md5-synthetic and
    n=488 makes the frame means integer sum compares
    (``_mm_audio_oracle``)."""
    from ..operators.multimodal import (
        audio_neardup_pairs,
        pack_fake_audio_random,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(200)
    )
    rows = docs.collect()
    hdr = len(b"FAKEAUD:8000:488:")

    def content(i: int) -> bytes:
        if i % 10 == 9:  # bumped copy of the previous doc's clip
            base = bytearray(pack_fake_audio_random(8000, 488, seed=i - 1))
            for off in range(100, 112):
                base[hdr + off] = min(255, base[hdr + off] + 1)
            return bytes(base)
        return pack_fake_audio_random(8000, 488, seed=i)

    items = route.driver_frame(
        spark,
        [(int(r["doc_id"]), content(int(r["doc_id"]))) for r in rows],
        "item_id bigint, content binary",
    )
    return audio_neardup_pairs(items, max_hamming=4)


@query(
    "user_activity_anomalies_mad",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    med AS (
      SELECT user_id, quantile_cont(n_events, 0.5) AS med
      FROM daily GROUP BY 1),
    j AS (SELECT d.*, m.med FROM daily d JOIN med m USING (user_id)),
    mad AS (
      SELECT user_id, quantile_cont(abs(n_events - med), 0.5) AS mad
      FROM j GROUP BY 1)
    SELECT j.user_id, j.day, j.n_events, j.med, m2.mad,
           (j.n_events > j.med + 3.0 * 1.4826 * m2.mad) AS is_anomaly
    FROM j JOIN mad m2 USING (user_id)
    """,
    gate=False,
)
def user_activity_anomalies_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags: a user-day is anomalous when its event
    count exceeds median + 3·1.4826·MAD of the user's full history —
    the median/MAD twin of ``user_activity_anomalies``' mean/σ
    detector, immune to the outliers it hunts (a burst inflates a
    mean+σ baseline and masks itself; medians don't move). Exact
    interpolated percentiles per user (two grouped passes over the
    TINY daily aggregate + SIZE-AWARE stats re-joins —
    ``maybe_broadcast``, because a per-user table is 10⁸ rows at
    100 TB, not broadcast material; above the threshold both re-joins
    degrade to shuffle joins on user_id, round-5 verdict item #2);
    1.4826 is the Gaussian MAD→σ consistency constant. At 100 TB swap
    ``percentile`` for ``approx_percentile`` (t-digest) — same plan
    shape, documented accuracy trade."""
    from ..operators.materialize import materialize
    from ..operators.util import maybe_broadcast

    ev = table(spark, sf_dir, "events")
    daily = materialize(
        ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )
    )
    med = materialize(
        daily.groupBy("user_id").agg(
            F.percentile("n_events", F.lit(0.5)).alias("med")
        )
    )
    j = daily.join(maybe_broadcast(med, _STATS_BROADCAST_MAX_ROWS), "user_id")
    mad = materialize(
        j.groupBy("user_id").agg(
            F.percentile(F.abs(F.col("n_events") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    return j.join(maybe_broadcast(mad, _STATS_BROADCAST_MAX_ROWS), "user_id").select(
        "user_id",
        "day",
        "n_events",
        "med",
        "mad",
        (
            F.col("n_events")
            > F.col("med") + F.lit(3.0) * F.lit(1.4826) * F.col("mad")
        ).alias("is_anomaly"),
    )


@query(
    "median_doc_length",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           median(n_chars) AS median_chars
    FROM documents
    """,
    gate=False,
)
def median_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median via bucketed selection
    (``operators.orderstats.exact_median``): one (min, max, count)
    aggregate + 1024-row histogram refinement + an in-bucket
    TakeOrdered — NO global sort, NO single-reducer percentile buffer
    (the round-5 verdict's curation-median hazard, now with an exact
    scale-safe resolution instead of just the approx_percentile
    trade). The oracle is DuckDB's own ``median``."""
    from ..operators.orderstats import exact_median

    docs = table(spark, sf_dir, "documents", access="scan")
    n, med = exact_median(docs, "n_chars")
    return route.driver_frame(
        spark, [(int(n), float(med))], "n_docs bigint, median_chars double"
    )


@query(
    "events_value_equidepth",
    oracle="""
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
    nn AS (SELECT COUNT(*) AS n FROM v),
    ord AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
    bounds AS (
      SELECT value AS b FROM ord
      WHERE rn IN (SELECT greatest(1, (n * i) // 8) FROM nn, range(1, 8) r(i))),
    binned AS (
      SELECT value,
             1 + (SELECT COUNT(*) FROM bounds WHERE v.value > bounds.b) AS bin
      FROM v)
    SELECT CAST(bin AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM binned GROUP BY 1
    """,
    gate=False,
)
def events_value_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning WITHOUT ntile's global-sort
    window: exact bin boundaries at ranks ``floor(n·i/8)`` from
    ``operators.orderstats.equi_depth_boundaries`` (bucketed
    selection, 1024-row shuffles), then a map-side value-threshold
    bin assignment (``1 + Σ[v > bᵢ]``) and one 8-group aggregate.
    The length/score-bucketing primitive for packing and curation.
    The oracle re-derives boundaries via row_number over a full sort
    — affordable in DuckDB at gate scale, the very plan this operator
    avoids at 100 TB."""
    from ..operators.orderstats import equi_depth_boundaries

    ev = table(spark, sf_dir, "events", access="scan")
    bounds = equi_depth_boundaries(ev, "value", 8)
    v = ev.where(F.col("value").isNotNull())
    bin_col = F.lit(1)
    for b in bounds:
        bin_col = bin_col + F.when(F.col("value") > F.lit(b), 1).otherwise(0)
    return v.groupBy(bin_col.cast("int").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events),
    c AS (
      SELECT event_type AS prev_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n, tot.n_from,
           CAST(c.n AS DOUBLE) / tot.n_from AS p
    FROM c JOIN tot USING (prev_type)
    """,
    gate=False,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams (the behavioral-sequence model behind next-action
    prediction and funnel synthesis): lead() within (user, time)
    order → (prev, next) pair counts → row-normalized probabilities.

    Scale: ONE user-keyed window shuffle (same distribution as
    sessionize — a shared exchange under AQE when composed), one
    pair-keyed groupBy; the row-normalizer joins the counts table
    against its own type-keyed rollup size-aware (event-type
    vocabulary is small in practice, unbounded in principle). The
    probability is a scalar BIGINT→DOUBLE division — deterministic,
    oracle-safe."""
    from ..operators.materialize import materialize
    from ..operators.util import maybe_broadcast

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    c = materialize(
        seq.groupBy("prev_type", "next_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
    )
    tot = materialize(
        c.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    )
    return c.join(maybe_broadcast(tot, _STATS_BROADCAST_MAX_ROWS), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "n_from",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


@query(
    "sketch_kmv_distinct",
    oracle="""
    WITH hu AS (
      SELECT DISTINCT CAST('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,8)
               AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL),
    ku AS (SELECT hv FROM hu ORDER BY hv LIMIT 64),
    su AS (SELECT COUNT(*) AS nk, MAX(hv) AS m FROM ku),
    he AS (
      SELECT DISTINCT CAST('0x'||substr(md5('kmv:'||event_type),1,8)
               AS BIGINT) AS hv
      FROM events WHERE event_type IS NOT NULL),
    ke AS (SELECT hv FROM he ORDER BY hv LIMIT 64),
    se AS (SELECT COUNT(*) AS nk, MAX(hv) AS m FROM ke)
    SELECT 'user_id' AS col, 64 AS k,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
           CAST(nk AS BIGINT) AS n_sketch,
           CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
                ELSE 63 * 4294967296.0::DOUBLE / m END AS n_est
    FROM su
    UNION ALL
    SELECT 'event_type', 64,
           (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events),
           CAST(nk AS BIGINT),
           CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
                ELSE 63 * 4294967296.0::DOUBLE / m END
    FROM se
    """,
    gate=False,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch vs exact truth, on a
    high-cardinality column (user_id — estimator path: k-th minimum
    hash extrapolation) and a low-cardinality one (event_type —
    exact path: sketch smaller than k IS the distinct count). Unlike
    ``approx_count_distinct`` (HLL++, opaque seeded registers) the
    md5-based KMV estimate is bit-reproducible in DuckDB, so the
    WHOLE estimator is oracle-checked, not just its error band.

    Scale: per column ONE distinct-value shuffle, materialized and
    shared by the exact count and the k-row TakeOrdered (the audit
    needs both; production keeps only the sketch); mergeable (union →
    re-truncate, pinned in tests/test_kmv.py) so per-partition/
    per-day sketches roll up without touching raw data again."""
    from ..operators.materialize import materialize
    from ..operators.sketch import kmv_estimate

    ev = table(spark, sf_dir, "events")
    rows = []
    for col in ("user_id", "event_type"):
        hv = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col(col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        dv = materialize(
            ev.where(F.col(col).isNotNull()).select(F.col(col), hv.alias("hv")).distinct()
        )
        n_exact = dv.count()
        sk = dv.select("hv").distinct().orderBy("hv").limit(64)
        nk, est = kmv_estimate(sk, k=64)
        rows.append((col, 64, int(n_exact), int(nk), float(est)))
    return route.driver_frame(
        spark, rows, "col string, k int, n_exact bigint, n_sketch bigint, n_est double"
    )


@query(
    "events_percentrank_by_type",
    oracle="""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS pct,
             cume_dist() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS cume,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events WHERE value IS NOT NULL)
    SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id, value, pct, cume
    FROM ranked WHERE rn <= 5
    """,
    gate=False,
)
def events_percentrank_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing features (percent_rank + cume_dist) over
    PER-TYPE partitions — the distribution-position features a
    per-segment anomaly threshold needs. The order is totalized with
    the event_id tiebreak so both rank fractions are
    engine-deterministic; only each type's top 5 rows by value
    surface.

    SCALE PATH (round-7, replacing the hot-key window the r6 verdict
    flagged): ``Window.partitionBy(event_type)`` over a 7-value key
    sorts 1/7th of the corpus inside ONE task. Instead: per-group
    threshold at rank n−4 from ``orderstats.kth_smallest_by``
    (bucketed selection — the corpus is only scanned), then a
    MAP-SIDE ``value ≥ threshold`` broadcast-join filter. Windows run
    only over the SURVIVORS — 5 rows + the threshold value's tie
    class per group — and the full-corpus rank fractions derive
    arithmetically: every non-survivor sorts strictly before every
    survivor in (value, event_id) order (the filter is on value
    alone), so full ascending rank r = (n − m) + rank-among-survivors
    with m the group's survivor count; pct = (r−1)/(n−1), cume = r/n
    — same integers, same IEEE division as the oracle's window
    definitions. Tie honesty: the survivor set is 5 + the
    multiplicity of the threshold value; a group whose values are
    nearly all equal degrades toward the window plan, which is the
    irreducible cost of a rank query on a tie-saturated column."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events")
    v = ev.where(F.col("value").isNotNull())
    vals, counts = kth_smallest_by(
        v, "event_type", "value", lambda n: [max(n - 4, 1)]
    )
    thr = route.driver_frame(
        spark,
        [(g[0], counts[g], vals[g][max(counts[g] - 4, 1)]) for g in counts],
        "event_type string, _n bigint, _thr double",
    )
    surv = v.join(F.broadcast(thr), "event_type").where(
        F.col("value") >= F.col("_thr")
    )
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wd = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    wm = Window.partitionBy("event_type")
    r = F.col("_n") - F.col("_m") + F.col("_rs")
    return (
        surv.select(
            "event_type",
            "event_id",
            "value",
            "_n",
            F.row_number().over(wo).alias("_rs"),
            F.count(F.lit(1)).over(wm).alias("_m"),
            F.row_number().over(wd).cast("int").alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .select(
            "event_type",
            "rn",
            "event_id",
            "value",
            F.when(F.col("_n") == 1, F.lit(0.0))
            .otherwise((r - 1) / (F.col("_n") - 1))
            .alias("pct"),
            (r / F.col("_n")).alias("cume"),
        )
    )


@query(
    "events_daily_delta_trend",
    oracle="""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 1000000) AS BIGINT))
                        AS BIGINT) AS micros
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    l AS (SELECT event_type, day, micros,
                 lag(micros) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev
          FROM d)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(micros) AS BIGINT) AS total_micros,
           CAST(MAX(micros - prev) AS BIGINT) AS max_rise_micros,
           CAST(MIN(micros - prev) AS BIGINT) AS max_drop_micros,
           CAST(SUM(CASE WHEN micros > prev THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up_days
    FROM l GROUP BY 1
    """,
    gate=False,
)
def events_daily_delta_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta profile per event type (largest single-day
    rise/drop, up-day count) — change detection done SCALE-SAFE: the
    corpus aggregates FIRST to bounded (type, day) fixed-point daily
    sums (one map-side-combinable shuffle), and the lag window runs
    over that bounded summary only (|types|·|days| rows — never the
    raw corpus; the naive per-type window over raw events is the
    hot-key sort this family always avoids). Deltas and extrema are
    exact integer arithmetic — oracle-hashable."""
    ev = table(spark, sf_dir, "events", access="scan")
    d = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("micros")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.withColumn("prev", F.lag("micros").over(w))
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("micros").cast("bigint").alias("total_micros"),
        F.max(F.col("micros") - F.col("prev")).cast("bigint").alias(
            "max_rise_micros"
        ),
        F.min(F.col("micros") - F.col("prev")).cast("bigint").alias(
            "max_drop_micros"
        ),
        F.sum(F.when(F.col("micros") > F.col("prev"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_up_days"),
    )


@query(
    "theil_sen_daily_trend",
    oracle="""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 1000000) AS BIGINT))
                        AS BIGINT) AS micros
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    i AS (SELECT event_type, day - DATE '1970-01-01' AS di, micros FROM d),
    p AS (SELECT a.event_type,
                 ((b.micros - a.micros) * 1000000) // (b.di - a.di) AS slope
          FROM i a JOIN i b
            ON a.event_type = b.event_type AND b.di > a.di),
    c AS (SELECT event_type, COUNT(*) AS n FROM p GROUP BY 1),
    o AS (SELECT event_type, slope,
                 row_number() OVER (PARTITION BY event_type ORDER BY slope)
                   AS rn
          FROM p)
    SELECT o.event_type, CAST(c.n AS BIGINT) AS n_pairs,
           AVG(CAST(o.slope AS DOUBLE)) AS theil_sen_slope
    FROM o JOIN c ON o.event_type = c.event_type
    WHERE o.rn = (c.n + 1) // 2 OR o.rn = c.n // 2 + 1
    GROUP BY 1, 2
    """,
    gate=False,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type — the median of all
    pairwise day-over-day slopes: the outlier-proof complement of the
    OLS ``value_trend_by_type`` (one anomalous day cannot move it,
    where it drags the least-squares line). Scale shape: the
    QUADRATIC pair expansion runs over the BOUNDED (type, day) daily
    fixed-point aggregate — |types|·C(|days|, 2) rows (≤ a few
    thousand per year-type), never the raw corpus — and the median
    window sorts only those pairs. Slopes are exact integer
    micro-units per day (``DIV`` truncation matches DuckDB ``//``
    even for negative rises); even pair counts average the two middle
    slopes (≤ 2 doubles — commutative-safe)."""
    ev = table(spark, sf_dir, "events", access="scan")
    d = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("micros")
        )
    )
    i = d.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("di"),
        "micros",
    )
    a = i.alias("a")
    b = i.alias("b")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.di") > F.col("a.di")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr("((b.micros - a.micros) * 1000000) DIV (b.di - a.di)").alias(
            "slope"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wc = Window.partitionBy("event_type")
    o = p.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mid = o.where(
        (F.col("rn") == F.expr("(n + 1) DIV 2"))
        | (F.col("rn") == F.expr("n DIV 2 + 1"))
    )
    return mid.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.avg(F.col("slope").cast("double")).alias("theil_sen_slope"),
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderstatus), ())
    """,
    gate=False,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the irregular-rollup generalization
    CUBE/ROLLUP can't express: (priority, status) detail + per-status
    subtotal + grand total, with GROUPING() flags disambiguating real
    NULLs from subtotal rows. Planned as ONE Expand + single
    aggregate shuffle (each input row fans out once per set —
    map-side combinable, no per-set re-scan)."""
    o = table(spark, sf_dir, "orders", access="scan")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderstatus), ())
        """
    )


@query(
    "events_value_trimmed_mean",
    oracle="""
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
    nn AS (SELECT COUNT(*) AS n FROM v),
    ord AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
    b AS (
      SELECT
        (SELECT value FROM ord, nn WHERE rn = greatest(CAST(ceil(n * 0.05) AS BIGINT), 1)) AS lo,
        (SELECT value FROM ord, nn WHERE rn = greatest(CAST(floor(n * 0.95) AS BIGINT), 1)) AS hi),
    kept AS (SELECT value FROM v, b WHERE value >= b.lo AND value <= b.hi)
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           (SELECT lo FROM b) AS lo,
           (SELECT hi FROM b) AS hi,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000 AS mean_trimmed
    FROM kept
    """,
    gate=False,
)
def events_value_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean WITHOUT a sort: the robust aggregate that
    survives heavy-tailed value columns. The two trim thresholds are
    exact order statistics from ``orderstats.kth_smallest`` (bucketed
    selection — bounded jobs, no global sort, no percentile buffer);
    the trim itself is a MAP-SIDE value filter (ties at the
    thresholds are kept on both engines identically — value-based,
    not rank-based, so the cut is deterministic), and the mean is an
    integer fixed-point sum (``Σ floor(v·10⁶)`` as BIGINT — order-
    independent, oracle-hashable) divided by the kept count."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())
    import math

    # callable ranks: the descent's own (min, max, count) aggregate
    # supplies n — no separate count job (r8)
    vals, counts = kth_smallest_by(
        v,
        (),
        "value",
        lambda n: {
            max(int(math.ceil(n * 0.05)), 1),
            max(int(math.floor(n * 0.95)), 1),
        },
    )
    n = counts[()]
    k_lo = max(int(math.ceil(n * 0.05)), 1)
    k_hi = max(int(math.floor(n * 0.95)), 1)
    lo, hi = vals[()][k_lo], vals[()][k_hi]
    kept = v.where((F.col("value") >= F.lit(lo)) & (F.col("value") <= F.lit(hi)))
    return kept.agg(
        F.lit(n).cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.lit(lo).alias("lo"),
        F.lit(hi).alias("hi"),
        (
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000)
        ).alias("mean_trimmed"),
    )


@query(
    "median_value_by_type",
    oracle="""
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    o AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
          FROM v)
    SELECT o.event_type, CAST(c.n AS BIGINT) AS n,
           AVG(o.value) AS median_value
    FROM o JOIN c ON o.event_type = c.event_type
    WHERE o.rn = (c.n + 1) // 2 OR o.rn = c.n // 2 + 1
    GROUP BY o.event_type, c.n
    """,
    gate=False,
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT interpolated medians through the grouped
    bucketed-selection primitive (``orderstats.exact_median_by``) —
    the per-segment robust center a curation dashboard wants, without
    the two per-group-exact-quantile anti-patterns: no
    ``Window.partitionBy(hot_key)`` sorting a seventh of the corpus
    in one task, no per-group ``percentile`` buffer holding every
    value. One (group, min, max, count) aggregate + one broadcast
    range table per level + (range, bucket) histograms; the corpus is
    scanned, never sorted or shuffled. Even-n groups average the two
    middle order statistics — the oracle mirrors that by AVG over the
    rows at ranks ⌈n/2⌉ and ⌊n/2⌋+1 (≤ 2 doubles — commutative-safe).
    """
    from ..operators.orderstats import exact_median_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())
    meds = exact_median_by(v, "event_type", "value")
    return route.driver_frame(
        spark,
        [(g[0], n, med) for g, (n, med) in meds.items()],
        "event_type string, n bigint, median_value double",
    )


@query(
    "events_value_trimmed_mean_by_type",
    oracle="""
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    o AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
          FROM v),
    b AS (SELECT o.event_type,
                 MAX(CASE WHEN o.rn = greatest((c.n * 5 + 99) // 100, 1)
                     THEN o.value END) AS lo,
                 MAX(CASE WHEN o.rn = greatest((c.n * 95) // 100, 1)
                     THEN o.value END) AS hi
          FROM o JOIN c ON o.event_type = c.event_type
          GROUP BY 1),
    kept AS (SELECT v.event_type, v.value
             FROM v JOIN b ON v.event_type = b.event_type
             WHERE v.value >= b.lo AND v.value <= b.hi)
    SELECT k.event_type,
           CAST(MAX(c.n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           MAX(b.lo) AS lo, MAX(b.hi) AS hi,
           CAST(SUM(CAST(floor(k.value * 1000000) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000 AS mean_trimmed
    FROM kept k
    JOIN c ON k.event_type = c.event_type
    JOIN b ON k.event_type = b.event_type
    GROUP BY 1
    """,
    gate=False,
)
def events_value_trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SEGMENT 5%-trimmed means — the grouped sibling of
    ``events_value_trimmed_mean``, unlocked by ``kth_smallest_by``
    (the r6 verdict named per-segment trimmed stats as what the
    grouped primitive buys): both trim thresholds for EVERY group
    come from one grouped bucketed selection, the trim is a map-side
    broadcast-join value filter, and the means are order-independent
    integer fixed-point sums. No per-group sort anywhere. Trim ranks
    use pure INTEGER arithmetic (``(n·5 + 99) div 100``, ``n·95 div
    100``) — a float ``ceil(n·0.05)`` can land on either side of an
    exact multiple depending on the engine's literal type (binary
    double vs DuckDB decimal), the classic boundary hazard."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())

    def lo_rank(n: int) -> int:
        return max((n * 5 + 99) // 100, 1)

    def hi_rank(n: int) -> int:
        return max((n * 95) // 100, 1)

    vals, counts = kth_smallest_by(
        v, "event_type", "value", lambda n: {lo_rank(n), hi_rank(n)}
    )
    thr = route.driver_frame(
        spark,
        [
            (g[0], counts[g], vals[g][lo_rank(counts[g])], vals[g][hi_rank(counts[g])])
            for g in counts
        ],
        "event_type string, _n bigint, _lo double, _hi double",
    )
    kept = v.join(F.broadcast(thr), "event_type").where(
        (F.col("value") >= F.col("_lo")) & (F.col("value") <= F.col("_hi"))
    )
    return kept.groupBy("event_type").agg(
        F.max("_n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("_lo").alias("lo"),
        F.max("_hi").alias("hi"),
        (
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000)
        ).alias("mean_trimmed"),
    )


@query(
    "events_value_winsorized_mean",
    oracle="""
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
    nn AS (SELECT COUNT(*) AS n FROM v),
    ord AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
    b AS (SELECT
      (SELECT value FROM ord, nn WHERE rn = greatest((n * 5 + 99) // 100, 1)) AS lo,
      (SELECT value FROM ord, nn WHERE rn = greatest((n * 95) // 100, 1)) AS hi)
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
           (SELECT lo FROM b) AS lo,
           (SELECT hi FROM b) AS hi,
           CAST(SUM(CAST(floor(least(greatest(value, b.lo), b.hi) * 1000000)
                    AS BIGINT)) AS DOUBLE)
             / (SELECT n FROM nn) / 1000000 AS mean_winsorized
    FROM v, b
    """,
    gate=False,
)
def events_value_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean — the trim's sibling robust aggregate that
    CLAMPS outliers to the p05/p95 order statistics instead of
    dropping them (keeps n constant: the right robustification when
    downstream weights assume every row contributes). Thresholds from
    bucketed selection (integer-arithmetic ranks), the clamp is a
    map-side ``least(greatest(...))``, and the mean is an
    order-independent fixed-point integer sum over ALL rows."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())
    # callable ranks: the descent's stats aggregate supplies n — no
    # separate count job (r8)
    vals, counts = kth_smallest_by(
        v,
        (),
        "value",
        lambda n: {max((n * 5 + 99) // 100, 1), max((n * 95) // 100, 1)},
    )
    n = counts[()]
    k_lo, k_hi = max((n * 5 + 99) // 100, 1), max((n * 95) // 100, 1)
    lo, hi = vals[()][k_lo], vals[()][k_hi]
    clamped = F.least(F.greatest(F.col("value"), F.lit(lo)), F.lit(hi))
    return v.agg(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(lo).alias("lo"),
        F.lit(hi).alias("hi"),
        (
            F.sum(F.floor(clamped * 1000000).cast("bigint")).cast("double")
            / F.lit(n)
            / F.lit(1000000)
        ).alias("mean_winsorized"),
    )


@query(
    "events_value_winsorized_by_type",
    oracle="""
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    o AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
          FROM v),
    b AS (SELECT o.event_type,
                 MAX(CASE WHEN o.rn = greatest((c.n * 5 + 99) // 100, 1)
                     THEN o.value END) AS lo,
                 MAX(CASE WHEN o.rn = greatest((c.n * 95) // 100, 1)
                     THEN o.value END) AS hi
          FROM o JOIN c ON o.event_type = c.event_type
          GROUP BY 1)
    SELECT v.event_type,
           CAST(MAX(c.n) AS BIGINT) AS n,
           MAX(b.lo) AS lo, MAX(b.hi) AS hi,
           CAST(SUM(CAST(floor(least(greatest(v.value, b.lo), b.hi) * 1000000)
                    AS BIGINT)) AS DOUBLE)
             / MAX(c.n) / 1000000 AS mean_winsorized
    FROM v
    JOIN c ON v.event_type = c.event_type
    JOIN b ON v.event_type = b.event_type
    GROUP BY 1
    """,
    gate=False,
)
def events_value_winsorized_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SEGMENT winsorized means — the grouped sibling of
    ``events_value_winsorized_mean``, completing the per-type robust
    battery (median/MAD/trimmed/winsorized): both clamp thresholds
    for EVERY type come from one grouped bucketed selection
    (integer-arithmetic ranks — no float ceil boundary hazard), the
    clamp is a map-side broadcast-join ``least(greatest(...))``, and
    the mean is an order-independent fixed-point integer sum over ALL
    rows (winsorize keeps n constant — the right robustification when
    downstream weights assume every row contributes). No per-group
    sort anywhere."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())

    def lo_rank(n: int) -> int:
        return max((n * 5 + 99) // 100, 1)

    def hi_rank(n: int) -> int:
        return max((n * 95) // 100, 1)

    vals, counts = kth_smallest_by(
        v, "event_type", "value", lambda n: {lo_rank(n), hi_rank(n)}
    )
    thr = route.driver_frame(
        spark,
        [
            (g[0], counts[g], vals[g][lo_rank(counts[g])], vals[g][hi_rank(counts[g])])
            for g in counts
        ],
        "event_type string, _n bigint, _lo double, _hi double",
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
    return (
        v.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("_n").cast("bigint").alias("n"),
            F.max("_lo").alias("lo"),
            F.max("_hi").alias("hi"),
            (
                F.sum(F.floor(clamped * 1000000).cast("bigint")).cast("double")
                / F.max("_n")
                / F.lit(1000000)
            ).alias("mean_winsorized"),
        )
    )


@query(
    "events_value_mad_by_type",
    oracle="""
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
    c AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    o AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
          FROM v),
    med AS (SELECT o.event_type, AVG(o.value) AS median_value
            FROM o JOIN c ON o.event_type = c.event_type
            WHERE o.rn = (c.n + 1) // 2 OR o.rn = c.n // 2 + 1
            GROUP BY 1),
    d AS (SELECT v.event_type, abs(v.value - m.median_value) AS dev
          FROM v JOIN med m ON v.event_type = m.event_type),
    o2 AS (SELECT event_type, dev,
                  row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn
           FROM d),
    madt AS (SELECT o2.event_type, AVG(o2.dev) AS mad
             FROM o2 JOIN c ON o2.event_type = c.event_type
             WHERE o2.rn = (c.n + 1) // 2 OR o2.rn = c.n // 2 + 1
             GROUP BY 1)
    SELECT c.event_type, CAST(c.n AS BIGINT) AS n, m.median_value, x.mad
    FROM c
    JOIN med m ON c.event_type = m.event_type
    JOIN madt x ON c.event_type = x.event_type
    """,
    gate=False,
)
def events_value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT median absolute deviation — the robust scale
    estimate behind per-segment anomaly thresholds (flag values
    beyond median ± c·MAD), computed as TWO stacked grouped bucketed
    selections: the per-group median, then the per-group median of
    ``|value − median|`` after a map-side broadcast-join deviation
    projection. The hard exact-order-statistics composition a
    percentile window can't do at scale — no group is ever sorted,
    twice. Deviations are scalar IEEE ops on identical operands, so
    the second selection's input is bit-identical cross-engine."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull())
    mid = lambda n: {(n + 1) // 2, n // 2 + 1}  # noqa: E731
    got, counts, st = kth_smallest_by(
        v, "event_type", "value", mid, return_stats=True
    )
    meds = {}
    for g, n in counts.items():
        k1, k2 = (n + 1) // 2, n // 2 + 1
        meds[g] = (n, (float(got[g][k1]) + float(got[g][k2])) / 2.0)
    meddf = route.driver_frame(
        spark,
        [(g[0], n, med) for g, (n, med) in meds.items()],
        "event_type string, n bigint, median_value double",
    )
    dev = v.join(
        F.broadcast(meddf.select("event_type", "median_value")), "event_type"
    ).select(
        "event_type", F.abs(F.col("value") - F.col("median_value")).alias("dev")
    )
    # second descent reuses the first's stats arithmetically (r8):
    # |v − med| is bounded by [0, max(hi − med, med − lo)] and has the
    # same row count — no second (min, max, count) full-scan job.
    dev_stats = {
        g: (0.0, max(hi - meds[g][1], meds[g][1] - lo), n)
        for g, (lo, hi, n, _) in st.items()
    }
    dgot, dcounts = kth_smallest_by(
        dev, "event_type", "dev", mid, stats=dev_stats
    )
    mads = {}
    for g, n in dcounts.items():
        k1, k2 = (n + 1) // 2, n // 2 + 1
        mads[g] = (n, (float(dgot[g][k1]) + float(dgot[g][k2])) / 2.0)
    return route.driver_frame(
        spark,
        [
            (g[0], meds[g][0], meds[g][1], mads[g][1])
            for g in meds
        ],
        "event_type string, n bigint, median_value double, mad double",
    )


@query(
    "sketch_bucketmin_daily_users",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id
               FROM events WHERE user_id IS NOT NULL),
    h AS (SELECT day,
                 CAST('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,8)
                   AS BIGINT) AS hv
          FROM e),
    t AS (SELECT day, hv % 64 AS bucket, MIN(hv) AS min_hv FROM h GROUP BY 1, 2),
    est AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(64*64*4294967296 AS DOUBLE)
                     / CAST(SUM(min_hv) + 4294967296 * (64 - COUNT(*)) AS DOUBLE)
                     - CAST(64 AS DOUBLE) AS n_est
            FROM t GROUP BY 1),
    ex AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM e GROUP BY 1)
    SELECT ex.day, ex.n_exact, est.n_buckets, est.n_est
    FROM ex JOIN est ON ex.day = est.day
    """,
    gate=False,
)
def sketch_bucketmin_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DAY distinct-user estimates from the GROUPED bucket-min
    sketch (``bucketmin_table_by``) next to the exact counts — the
    per-segment rollup the KMV audit round promised: per-(day,
    bucket) minima are one plain aggregate (bounded state, map-side
    combinable, mergeable across loads), and the mean-of-minima
    estimator evaluates COLUMN-SIDE (exact integer sum → one scalar
    double division), so the whole grouped estimator is
    oracle-checked. True per-group KMV would need a per-group
    bottom-k — a hot-key window this shape never pays."""
    from ..operators.sketch import bucketmin_estimate_col, bucketmin_table_by

    ev = table(spark, sf_dir, "events", access="scan")
    e = ev.where(F.col("user_id").isNotNull()).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    sk = bucketmin_table_by(e, "day", "user_id", k=64)
    est = bucketmin_estimate_col(sk, "day", k=64)
    exact = e.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return exact.join(est, "day").select("day", "n_exact", "n_buckets", "n_est")


@query(
    "length_deciles_by_source",
    oracle="""
    WITH d AS (SELECT source, doc_id, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
    o AS (SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
          FROM d),
    b AS (SELECT o.source, o.n_chars AS bval
          FROM o JOIN c ON o.source = c.source,
               (SELECT unnest(range(1,10)) AS i)
          WHERE o.rn = greatest((c.n * i) // 10, 1)),
    bins AS (SELECT d.source, d.doc_id,
                    1 + SUM(CASE WHEN d.n_chars > b.bval THEN 1 ELSE 0 END)
                      AS decile
             FROM d JOIN b ON d.source = b.source GROUP BY 1, 2)
    SELECT source, CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM bins GROUP BY 1, 2
    """,
    gate=False,
)
def length_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EXACT equi-depth decile binning of document length
    — the per-segment score-binning step of curation (compare a
    document to ITS source's length distribution, not the corpus's),
    built on grouped bucketed selection: 9 exact boundary order
    statistics per source (one grouped descent), broadcast as a
    9-element array per source, and a MAP-SIDE bin assignment
    ``1 + Σ[len > bᵢ]`` — value-threshold binning, which unlike
    ``ntile`` puts ties in ONE bin deterministically on both engines.
    No per-source sort; ties make bins uneven exactly where the data
    does."""
    from ..operators.orderstats import equi_depth_boundaries_by

    docs = table(spark, sf_dir, "documents", access="scan")
    d = docs.where(F.col("n_chars").isNotNull())
    bnds = equi_depth_boundaries_by(d, "source", "n_chars", 10)
    bounds = route.driver_frame(
        spark,
        [(g[0], [int(b) for b in bs]) for g, bs in bnds.items()],
        "source string, _b array<bigint>",
    )

    def _above(acc, x):
        return acc + F.when(F.col("n_chars") > x, 1).otherwise(0)

    decile = F.lit(1) + F.aggregate(F.col("_b"), F.lit(0), _above)
    return (
        d.join(F.broadcast(bounds), "source")
        .select("source", decile.cast("int").alias("decile"))
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@query(
    "events_running_total",
    oracle="""
    SELECT event_id, ts,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT))
                OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS running_micros
    FROM events WHERE value IS NOT NULL
    """,
    gate=False,
)
def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running total over event time — the cumulative-revenue
    curve every ops dashboard wants, and the canonical single-task
    killer when written as a bare ``SUM OVER (ORDER BY ts)`` window
    (Exchange SinglePartition + a full-corpus sort in ONE task).
    Implemented as the two-pass distributed prefix sum
    (``operators.prefixsum.running_sum``): range-repartition on the
    total order (ts, event_id), per-partition bounded running sums,
    an n_parts-row offset table broadcast back. Values accumulate in
    fixed-point micros (integer addition — order-independent, so the
    running curve is engine-identical). Plan-pinned: no
    SinglePartition exchange (tests/test_plans.py)."""
    from ..operators.prefixsum import running_sum

    ev = table(spark, sf_dir, "events", access="scan")
    base = ev.where(F.col("value").isNotNull()).select(
        "event_id",
        "ts",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("_v6"),
    )
    out = running_sum(base, ["ts", "event_id"], "_v6", out_col="running_micros")
    return out.select("event_id", "ts", "running_micros")


@query(
    "events_rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
    """,
    gate=False,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day rolling active users — the sliding-window DISTINCT
    no window frame can express (COUNT(DISTINCT) OVER RANGE isn't a
    thing, and per-day distinct counts don't add). The scale-honest
    exact plan: dedup to user-days (one shuffle), EXPLODE each
    user-day to the ≤7 window-end days it serves (map-side, bounded
    ×7), semi-join to observed days, one distinct-count shuffle keyed
    by window day. Work is O(7 · |user-days|) regardless of raw event
    volume — the raw table is touched once. The sketch sibling
    (``sketch_rolling_active_users``) replaces the second shuffle
    with ≤64-row/day merges."""
    ev = table(spark, sf_dir, "events", access="scan")
    ud = (
        ev.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct()
    exploded = ud.select(
        F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("wday"),
        "user_id",
    ).join(F.broadcast(days.select(F.col("day").alias("wday"))), "wday", "left_semi")
    return exploded.groupBy(F.col("wday").alias("day")).agg(
        F.count_distinct("user_id").cast("bigint").alias("active_7d")
    )


@query(
    "sketch_rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL),
    days AS (SELECT DISTINCT day FROM ud),
    h AS (SELECT day,
                 CAST('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,8)
                   AS BIGINT) AS hv
          FROM ud),
    t AS (SELECT day, hv % 64 AS bucket, MIN(hv) AS min_hv FROM h GROUP BY 1, 2),
    merged AS (
      SELECT d.day, t.bucket, MIN(t.min_hv) AS min_hv
      FROM days d JOIN t ON t.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1, 2),
    est AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(64*64*4294967296 AS DOUBLE)
                     / CAST(SUM(min_hv) + 4294967296 * (64 - COUNT(*)) AS DOUBLE)
                     - CAST(64 AS DOUBLE) AS est_7d
            FROM merged GROUP BY 1),
    ex AS (SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_7d
           FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
           GROUP BY 1)
    SELECT ex.day, ex.exact_7d, est.n_buckets, est.est_7d
    FROM ex JOIN est ON ex.day = est.day
    """,
    gate=False,
)
def sketch_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH rollup that makes rolling distinct O(k·days): merge
    each window's 7 per-day bucket-min sketches (explode each day's
    ≤64 sketch rows to the window days it serves → per-(window,
    bucket) MIN — mergeability doing real work, not just a pinned
    property) and estimate column-side. Raw data is touched once to
    build the per-day sketches; every widening of the window after
    that costs k-row merges. Exact counts ride along as the honesty
    anchor, and the md5-based estimator is bit-reproducible in
    DuckDB, so the WHOLE rolled-up estimator is oracle-checked."""
    from ..operators.sketch import bucketmin_estimate_col, bucketmin_table_by

    ev = table(spark, sf_dir, "events", access="scan")
    ud = (
        ev.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct()
    sk = bucketmin_table_by(ud, "day", "user_id", k=64)
    merged = (
        sk.select(
            F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
            "bucket",
            "min_hv",
        )
        .join(F.broadcast(days), "day", "left_semi")
        .groupBy("day", "bucket")
        .agg(F.min("min_hv").alias("min_hv"))
    )
    est = bucketmin_estimate_col(merged, "day", k=64).withColumnRenamed(
        "n_est", "est_7d"
    )
    exploded = ud.select(
        F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
        "user_id",
    ).join(F.broadcast(days), "day", "left_semi")
    exact = exploded.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_7d")
    )
    return exact.join(est, "day").select("day", "exact_7d", "n_buckets", "est_7d")


@query(
    "sketch_hll_rolling_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_7d,
           TRUE AS in_band
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
    """,
    gate=False,
)
def sketch_hll_rolling_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE-Spark sibling of ``sketch_rolling_active_users``:
    per-day Datasketches HLL sketches (``hll_sketch_agg`` — a real
    mergeable sketch COLUMN), each day's binary sketch exploded to
    the ≤7 window days it serves, merged per window with
    ``hll_union_agg``, estimated with ``hll_sketch_estimate``. One
    raw-data pass builds the daily sketches; every window is a
    ≤7-sketch union. Sketch bytes are engine-internal, so the oracle
    pins the exact rolling counts plus an in-band flag (HLL at the
    default lgConfigK=12 has ~1.6% rsd; the 10% band makes a pass a
    property of the data — register maxima are merge-order-
    insensitive, so the estimate is deterministic)."""
    ev = table(spark, sf_dir, "events", access="scan")
    ud = (
        ev.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct()
    daily = ud.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = (
        daily.select(
            F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
            "sk",
        )
        .join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"))
    )
    exploded = ud.select(
        F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
        "user_id",
    ).join(F.broadcast(days), "day", "left_semi")
    exact = exploded.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_7d")
    )
    return exact.join(merged, "day").select(
        "day",
        "exact_7d",
        (
            F.abs(F.col("_est") - F.col("exact_7d")) <= 0.10 * F.col("exact_7d")
        ).alias("in_band"),
    )


@query(
    "sketch_quantile_rollup",
    oracle="""
    WITH v AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(floor(value * 1000000.0) AS BIGINT) AS v_us
               FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
    g AS (SELECT min(v_us) AS gmin,
                 (max(v_us) - min(v_us)) // 256 + 1 AS width FROM v),
    days AS (SELECT DISTINCT day FROM v),
    b AS (SELECT day, (v_us - gmin) // width AS bin,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM v, g GROUP BY 1, 2),
    m AS (SELECT d.day AS day, b.bin, CAST(SUM(b.cnt) AS BIGINT) AS cnt
          FROM days d JOIN b ON b.day BETWEEN d.day - 6 AND d.day
          GROUP BY 1, 2),
    tot AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS n FROM m GROUP BY 1),
    cum AS (SELECT m.day, m.bin,
                   SUM(m.cnt) OVER (PARTITION BY m.day ORDER BY m.bin) AS c,
                   t.n
            FROM m JOIN tot t ON m.day = t.day),
    est AS (SELECT day, n,
                   MIN(CASE WHEN c >= (n + 1) // 2 THEN bin END) AS b50,
                   MIN(CASE WHEN c >= (95 * n + 99) // 100 THEN bin END) AS b95
            FROM cum GROUP BY day, n),
    ex AS (SELECT d.day AS day, v.v_us,
                  row_number() OVER (PARTITION BY d.day ORDER BY v.v_us) AS rn
           FROM days d JOIN v ON v.day BETWEEN d.day - 6 AND d.day),
    exact AS (SELECT e.day,
                     MIN(CASE WHEN rn = (t.n + 1) // 2 THEN v_us END) AS x50,
                     MIN(CASE WHEN rn = (95 * t.n + 99) // 100 THEN v_us END) AS x95
              FROM ex e JOIN tot t ON e.day = t.day GROUP BY e.day)
    SELECT est.day, est.n,
           CAST(gmin + b50 * width AS BIGINT) AS est_p50_us,
           CAST(x50 AS BIGINT) AS exact_p50_us,
           CAST(gmin + b95 * width AS BIGINT) AS est_p95_us,
           CAST(x95 AS BIGINT) AS exact_p95_us,
           (x50 - (gmin + b50 * width) BETWEEN 0 AND width - 1
            AND x95 - (gmin + b95 * width) BETWEEN 0 AND width - 1)
             AS in_band
    FROM est JOIN exact ON est.day = exact.day, g
    """,
    gate=False,
)
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE ROLLUP — the percentile sibling of the
    HLL/bucket-min rollups: per-day fixed-bin integer histograms
    (the sketch: ≤256 (bin, count) rows per day, mergeable by
    ADDITION — the property that lets a 100 TB pipeline keep one
    tiny summary per day/partition and answer any trailing-window
    quantile from summaries alone), merged over each trailing 7-day
    window, quantile estimated as the lower bound of the bin where
    the cumulative count crosses the rank. Every number is exact
    integer arithmetic (micro fixed-point values, ``DIV`` bins), so
    unlike t-digest/KLL the estimate itself is oracle-checkable, and
    its error bound is a THEOREM: exact_q − est_q ∈ [0, width) —
    emitted as the in_band flag, audited per window against the
    true quantiles from ONE grouped bucketed-selection descent over
    the exploded windows (the audit is the expensive side, same
    honest-audit pattern as approx_sketches). Plan shape: one
    (min, max) scalar probe, one (day, bin) aggregate (the sketch
    build), a ≤7× explode of the BOUNDED sketch table (never raw
    rows) + one merge aggregate, and bounded summary windows over
    ≤ days·256 rows."""
    from ..operators.orderstats import kth_smallest_by

    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    ).select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_us"),
    )
    gmin, gmax = v.agg(F.min("v_us"), F.max("v_us")).first()
    gmin = int(gmin)
    width = (int(gmax) - gmin) // 256 + 1
    days = v.select("day").distinct()
    # integer DIV, not float division: (a/b).cast("long") can land one
    # ulp off an integer boundary; DuckDB's // is exact integer too
    binned = v.groupBy(
        "day", F.expr(f"(v_us - {gmin}) DIV {width}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    merged = (
        binned.select(
            F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
            "bin",
            "cnt",
        )
        .join(F.broadcast(days), "day", "left_semi")
        .groupBy("day", "bin")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    tot = merged.groupBy("day").agg(F.sum("cnt").cast("bigint").alias("n"))
    w = Window.partitionBy("day").orderBy("bin")
    cum = (
        merged.join(tot, "day")
        .withColumn("c", F.sum("cnt").over(w))
    )
    est = cum.groupBy("day", "n").agg(
        F.min(
            F.when(F.col("c") >= F.expr("(n + 1) DIV 2"), F.col("bin"))
        ).alias("b50"),
        F.min(
            F.when(F.col("c") >= F.expr("(95 * n + 99) DIV 100"), F.col("bin"))
        ).alias("b95"),
    )
    exploded = v.select(
        F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS)")).alias("day"),
        "v_us",
    ).join(F.broadcast(days), "day", "left_semi")
    # per-window counts are already in the bounded merge table — hand
    # them to the descent as stats (loose global bounds are fine, the
    # first histogram re-tightens) so it skips a full scan of the
    # 7×-exploded frame
    n_by_day = {row[0]: int(row[1]) for row in tot.collect()}
    vals, _counts = kth_smallest_by(
        exploded,
        "day",
        "v_us",
        {(d,): {(n + 1) // 2, (95 * n + 99) // 100} for d, n in n_by_day.items()},
        stats={(d,): (gmin, int(gmax), n) for d, n in n_by_day.items()},
    )
    exact = route.driver_frame(
        spark,
        [
            (
                d,
                int(picked[(n_by_day[d] + 1) // 2]),
                int(picked[(95 * n_by_day[d] + 99) // 100]),
            )
            for (d,), picked in vals.items()
        ],
        "day date, x50 bigint, x95 bigint",
    )
    e50 = (F.lit(gmin) + F.col("b50") * F.lit(width)).cast("bigint")
    e95 = (F.lit(gmin) + F.col("b95") * F.lit(width)).cast("bigint")
    return est.join(exact, "day").select(
        "day",
        "n",
        e50.alias("est_p50_us"),
        F.col("x50").alias("exact_p50_us"),
        e95.alias("est_p95_us"),
        F.col("x95").alias("exact_p95_us"),
        (
            (F.col("x50") - e50).between(0, width - 1)
            & (F.col("x95") - e95).between(0, width - 1)
        ).alias("in_band"),
    )


@query(
    "join_skew_diagnostics",
    oracle="""
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
               FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
    top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 10)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INTEGER)
             AS rank,
           user_id, n,
           CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
           CAST((32 * n + total - 1) // total AS BIGINT) AS rec_salt
    FROM top, t
    """,
    gate=False,
)
def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW census — the pre-flight a 100 TB join needs:
    the hottest join-key values, their corpus share (exact integer
    ppm), and the salting factor that would spread each hot key
    across ~task-sized slices at 32-way parallelism
    (``ceil(32·n/total)`` — >1 means salt or rely on AQE skew-join).
    Plan shape: one map-side-combinable key count, then
    ``orderBy().limit(10)`` — Spark plans TakeOrderedAndProject
    (per-partition partial top-k, NO full sort shuffle — the global
    window-rank alternative would sort |keys| rows in one task), and
    the rank/share arithmetic runs over the bounded 10-row result ×
    a broadcast scalar total. The report arithmetic is the shared
    ``operators.profile.key_census`` (r9) — the streaming census
    (``streaming.sketch.stream_key_census``) feeds the same helper
    from its drained state snapshot."""
    from ..operators.profile import key_census

    ev = table(spark, sf_dir, "events", access="scan")
    c = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return key_census(c, "user_id", top=10, parallelism=32)


@query(
    "max_concurrent_sessions",
    oracle="""
    WITH w AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) >= 30*60*1000000
                     THEN 1 ELSE 0 END AS is_new
      FROM w),
    tagged AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flags),
    sess AS (
      SELECT user_id, session_seq, MIN(ts) AS s, MAX(ts) AS e
      FROM tagged GROUP BY 1, 2),
    d AS (SELECT s AS ts, 1 AS delta, user_id, session_seq FROM sess
          UNION ALL
          SELECT e AS ts, -1 AS delta, user_id, session_seq FROM sess),
    r AS (SELECT ts, SUM(delta) OVER (ORDER BY ts, delta, user_id, session_seq
                                      ROWS UNBOUNDED PRECEDING) AS c
          FROM d)
    SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
           CAST((SELECT MAX(c) FROM r) AS BIGINT) AS max_concurrent,
           (SELECT MIN(ts) FROM r, (SELECT MAX(c) AS m FROM r) x WHERE r.c = x.m)
             AS peak_ts
    """,
    gate=False,
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency — the interval-overlap SWEEP LINE: sessionize
    (30-min gap), emit (+1 at start, −1 at end) deltas, and take the
    maximum of the GLOBAL running sum over the (ts, delta, user,
    session) total order — which is exactly
    ``operators.prefixsum.running_sum`` again, so the classic
    capacity-planning aggregate that reads like "sort everything in
    one place" runs as range partitions + bounded per-partition
    windows + an n_parts-row offset table. Tie convention: at equal
    timestamps, ends sort before starts (delta −1 < +1), so a
    touching session pair never counts as concurrent — identical on
    both engines by the shared total order. The peak instant is the
    earliest timestamp achieving the max (deterministic)."""
    from ..operators.materialize import materialize
    from ..operators.prefixsum import running_sum
    from ..streaming.events import sessionize_batch

    ev = table(spark, sf_dir, "events")
    # still checkpointed: running_sum's repartitionByRange SAMPLES its
    # input before the real pass, so an unmaterialized sessionize
    # window would execute twice (measured: 1.8 s → 3.0 s without it)
    sess = materialize(
        sessionize_batch(ev, gap_minutes=30).select(
            "user_id", "session_seq", "session_start", "session_end"
        )
    )
    # ±1 sweep deltas as ONE map-side explode of a 2-element array
    # per session — the former union of two selects read the
    # checkpointed session table twice; this reads it once (guide §2.4)
    d = sess.select(
        "user_id",
        "session_seq",
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("ts"),
                    F.lit(1).cast("bigint").alias("delta"),
                ),
                F.struct(
                    F.col("session_end").alias("ts"),
                    F.lit(-1).cast("bigint").alias("delta"),
                ),
            )
        ).alias("_d"),
    ).select("_d.ts", "_d.delta", "user_id", "session_seq")
    run = running_sum(
        d, ["ts", "delta", "user_id", "session_seq"], "delta", out_col="c"
    )
    # ONE summary job: n_sessions = deltas/2; peak via max; peak ts
    # via min_by on the (-c, ts) struct — lexicographic min = max
    # concurrency then earliest instant (TIMESTAMP_NTZ compares
    # natively inside the struct; no epoch cast, no session-tz risk)
    row = run.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_sessions"),
        F.max("c").cast("bigint").alias("max_concurrent"),
        F.min_by(
            "ts", F.struct((-F.col("c")).alias("_nc"), F.col("ts").alias("_t"))
        ).alias("peak_ts"),
    ).collect()[0]
    return route.driver_frame(
        spark,
        [(int(row["n_sessions"]), int(row["max_concurrent"]), row["peak_ts"])],
        "n_sessions bigint, max_concurrent bigint, peak_ts timestamp_ntz",
    )


@query(
    "value_trend_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
             CAST(floor(value * 1000000) AS BIGINT) AS y6
      FROM events WHERE value IS NOT NULL),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y6) AS BIGINT) AS sy6,
             CAST(SUM(x * y6) AS BIGINT) AS sxy6,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM v GROUP BY 1)
    SELECT event_type, n,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy6
                - CAST(sx AS DECIMAL(38,0)) * sy6 AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                    - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
             / 1000000.0 AS slope_per_hour,
           (CAST(sy6 AS DOUBLE) / n
            - (CAST(CAST(n AS DECIMAL(38,0)) * sxy6
                    - CAST(sx AS DECIMAL(38,0)) * sy6 AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
              * (CAST(sx AS DOUBLE) / n)) / 1000000.0 AS intercept
    FROM m
    """,
    gate=False,
)
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment least-squares trend (value vs hour-of-day) from
    EXACT integer moments — the per-group regression feature an
    anomaly detector wants, as ONE aggregate: Σx, Σy, Σxy, Σx² in
    fixed-point bigint (order-independent, partial-agg safe), then
    the closed-form slope/intercept as a deterministic scalar chain
    on those identical integers (cross products in DECIMAL(38,0) —
    n·Σxy⁶ exceeds int64 at corpus scale). No ML library, no
    iteration, no per-group collect: the d×d normal-equation solve
    that ``operators/linear.py`` does for many features collapses to
    arithmetic at d=1."""
    ev = table(spark, sf_dir, "events", access="scan")
    v = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("y6"),
    )
    m = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y6").cast("bigint").alias("sy6"),
        F.sum(F.col("x") * F.col("y6")).cast("bigint").alias("sxy6"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * sxy6"
        " - CAST(sx AS DECIMAL(38,0)) * sy6 AS DOUBLE)"
    )
    den = F.expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx"
        " - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
    )
    slope = num / den
    return m.select(
        "event_type",
        "n",
        (slope / F.lit(1000000.0)).alias("slope_per_hour"),
        (
            (
                F.col("sy6").cast("double") / F.col("n")
                - slope * (F.col("sx").cast("double") / F.col("n"))
            )
            / F.lit(1000000.0)
        ).alias("intercept"),
    )


def pagerank_oracle_levels(
    ed_cte: str, iters: int = 8, num: int = 85, den: int = 100
) -> str:
    """Reusable DuckDB replay of the fixed-point PageRank fixpoint
    (``operators.graph.pagerank`` — the r8/r9 unrolling playbook on a
    graph algorithm): given an ``ed(src, dst)`` CTE body supplied by
    the caller (the graph construction), emit the WITH-parts for
    nodes/out-degrees and every one of the ``iters`` rank updates —
    integer arithmetic throughout (q40 rank mass, trunc-division
    contributions, integer damping blend), each iteration one CTE
    level, dangling-mass share included — bit-for-bit the operator's
    update. The final rank table is ``r{iters}(node, outdeg, rq)``."""
    q40 = 1 << 40
    teleport = ((den - num) * q40) // den
    parts = [f"""
    ed AS MATERIALIZED ({ed_cte}),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    od AS (SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS outdeg
           FROM ed GROUP BY 1),
    base AS MATERIALIZED (
      SELECT n.node, COALESCE(o.outdeg, 0) AS outdeg
      FROM nodes n LEFT JOIN od o USING (node)),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM base),
    r0 AS MATERIALIZED (
      SELECT node, outdeg, CAST({q40} AS HUGEINT) AS rq FROM base)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
    c{i} AS (
      SELECT e.dst AS node, SUM(r.rq // r.outdeg) AS in_q
      FROM r{i - 1} r JOIN ed e ON e.src = r.node
      WHERE r.outdeg > 0 GROUP BY 1),
    d{i} AS (SELECT COALESCE(SUM(rq), 0) AS dang
             FROM r{i - 1} WHERE outdeg = 0),
    r{i} AS MATERIALIZED (
      SELECT b.node, b.outdeg,
             {teleport} + ({num} * (COALESCE(c.in_q, 0)
               + (SELECT dang FROM d{i}) // (SELECT n FROM nn)))
               // {den} AS rq
      FROM base b LEFT JOIN c{i} c USING (node))""")
    return ",".join(parts)


def _pagerank_oracle(iters: int = 8) -> str:
    """Twin of graph_pagerank_suppliers: the purchase-graph edges fed
    to the reusable unrolled-fixpoint generator."""
    ed = """
        SELECT DISTINCT src, dst FROM (
          SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          UNION ALL
          SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey) t"""
    return (
        "WITH " + pagerank_oracle_levels(ed, iters) + f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rq AS BIGINT) AS rank_q,
           CAST(r.rq AS DOUBLE) / {float(1 << 40)} AS rank
    FROM r{iters} r JOIN supplier s ON r.node = 2 * s.s_suppkey + 1
    """
    )


@query("graph_pagerank_suppliers", oracle=_pagerank_oracle(), gate=False)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-GRAPH CENTRALITY — fixed-point PageRank
    (``operators.graph.pagerank``) over the customer↔supplier
    purchase graph (both directions of every distinct trading pair,
    node ids namespaced even/odd). The corpus-curation primitive
    behind link-graph quality weighting (Common Crawl pipelines rank
    hosts by centrality before sampling pretraining data); here it
    ranks suppliers by their standing in the trade network rather
    than raw order counts — a hub trading with well-connected
    customers outranks one with the same volume from peripheral
    buyers.

    Scale shape: the graph never leaves the cluster — each of the 8
    iterations is one src-keyed equi-join plus one dst-keyed
    aggregation (co-partition/bucket both on the node key to delete
    the exchanges), the iterate is checkpointed (lineage cut — the
    GraphX discipline), and the dangling-mass term is a 1-row
    broadcast scalar. Integer fixed point makes every iteration
    engine-independent; the DuckDB twin unrolls all 8 levels."""
    from ..operators.graph import pagerank

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = ord_.join(
        li, ord_["o_orderkey"] == li["l_orderkey"]
    ).select(
        (F.col("o_custkey") * 2).alias("cust_node"),
        (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
    )
    # The bucketed purchase-edge layout (layout.build_purchase_edges
    # + pagerank(edges_ready=True)) serves this graph with NO
    # edge-side exchange in the shuffle regime — plan-pinned in
    # tests/test_layout.py and dumped in PLANS.md's iteration-shapes
    # section. The DEMO stays on the raw path: at sf0.1 the walk is
    # broadcast-regime, where controlled A/Bs measured parity within
    # noise (5.3-5.5 s both paths across two windows) and checkpoint
    # row blocks re-scan faster than the columnar cache — matching
    # the r9 methodology keeps cross-round bench compares apples to
    # apples. Ranks are bit-identical on all paths (layout test).
    # r11 measured the crossover the layout promised: at ~sf1 (10×
    # edges, tools/scale_curve.py --ab-pagerank) the bucketed
    # edges_ready scan runs 8.78 s vs 13.13 s raw — SCALE.md's
    # "Measured scale curve" section; past ~10× bench data, serve
    # graph walks from the layout.
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    ranks = pagerank(edges, iters=8)
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ranks.join(
            supp, ranks["node"] == supp["s_suppkey"] * 2 + 1
        ).select("s_suppkey", "s_name", "rank_q", "rank")
    )


def pagerank_personalized_levels(
    ed_cte: str,
    seed_cte: str,
    iters: int = 8,
    num: int = 85,
    den: int = 100,
) -> str:
    """Seeded twin of :func:`pagerank_oracle_levels` — the DuckDB
    replay of ``operators.graph.pagerank(seeds=...)`` (personalized
    PageRank / TrustRank): initial q40 mass and the teleport constant
    go only to the caller's ``seed_cte`` node set (restricted to ids
    actually in the graph), and each level's dangling mass is
    redistributed ``dang // n_seeds`` over the seeds instead of
    ``// n_nodes`` over everyone. Bit-for-bit the operator's update;
    the final table is ``r{iters}(node, outdeg, is_seed, rq)`` with
    ``sd``/``ns`` (seed set and its count) also in scope."""
    q40 = 1 << 40
    teleport = ((den - num) * q40) // den
    parts = [f"""
    ed AS MATERIALIZED ({ed_cte}),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    od AS (SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS outdeg
           FROM ed GROUP BY 1),
    sd AS (SELECT DISTINCT node FROM ({seed_cte}) s
           WHERE node IN (SELECT node FROM nodes)),
    ns AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM sd),
    base AS MATERIALIZED (
      SELECT n.node, COALESCE(o.outdeg, 0) AS outdeg,
             n.node IN (SELECT node FROM sd) AS is_seed
      FROM nodes n LEFT JOIN od o USING (node)),
    r0 AS MATERIALIZED (
      SELECT node, outdeg, is_seed,
             CASE WHEN is_seed THEN CAST({q40} AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS rq
      FROM base)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
    c{i} AS (
      SELECT e.dst AS node, SUM(r.rq // r.outdeg) AS in_q
      FROM r{i - 1} r JOIN ed e ON e.src = r.node
      WHERE r.outdeg > 0 GROUP BY 1),
    d{i} AS (SELECT COALESCE(SUM(rq), 0) AS dang
             FROM r{i - 1} WHERE outdeg = 0),
    r{i} AS MATERIALIZED (
      SELECT b.node, b.outdeg, b.is_seed,
             CASE WHEN b.is_seed THEN {teleport} ELSE 0 END
               + ({num} * (COALESCE(c.in_q, 0)
                 + CASE WHEN b.is_seed
                        THEN (SELECT dang FROM d{i}) // (SELECT n FROM ns)
                        ELSE 0 END))
               // {den} AS rq
      FROM base b LEFT JOIN c{i} c USING (node))""")
    return ",".join(parts)


def _trustrank_oracle(iters: int = 8) -> str:
    """Twin of graph_trustrank_seeded: purchase-graph edges + the
    top-5-balance supplier seed set fed to the seeded generator."""
    ed = """
        SELECT DISTINCT src, dst FROM (
          SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          UNION ALL
          SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey) t"""
    seeds = """SELECT 2 * s_suppkey + 1 AS node FROM (
          SELECT s_suppkey FROM supplier
          ORDER BY s_acctbal DESC, s_suppkey LIMIT 5) t"""
    return (
        "WITH " + pagerank_personalized_levels(ed, seeds, iters) + f"""
    SELECT s.s_suppkey, s.s_name, r.is_seed,
           CAST(r.rq AS BIGINT) AS rank_q,
           CAST(r.rq AS DOUBLE) / {float(1 << 40)} AS rank
    FROM r{iters} r JOIN supplier s ON r.node = 2 * s.s_suppkey + 1
    """
    )


@query("graph_trustrank_seeded", oracle=_trustrank_oracle(), gate=False)
def graph_trustrank_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEED-PROPAGATED TRUST (personalized PageRank / TrustRank,
    ``operators.graph.pagerank(seeds=...)``): rank every supplier by
    proximity-weighted reachability from a vetted whitelist — the 5
    suppliers with the highest account balance, standing in for the
    human-audited seed set every production trust pipeline starts
    from (Common Crawl host curation seeds with known-good domains and
    propagates outward; spam detection propagates from audited pages).
    Initial mass, teleport, and dangling redistribution all go only
    to the seeds, so rank decays with graph distance from the
    whitelist instead of rewarding raw in-degree. Same per-iteration
    shape as global PageRank (one src-keyed join + one dst-keyed agg,
    checkpointed iterates); the integer fixpoint unrolls into the
    DuckDB twin level for level."""
    from ..operators.graph import pagerank

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = ord_.join(
        li, ord_["o_orderkey"] == li["l_orderkey"]
    ).select(
        (F.col("o_custkey") * 2).alias("cust_node"),
        (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    seeds = (
        supp.orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        .limit(5)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    ranks = pagerank(edges, iters=8, seeds=seeds)
    return (
        ranks.join(supp, ranks["node"] == supp["s_suppkey"] * 2 + 1)
        .join(
            seeds.withColumn("_is", F.lit(True)), "node", "left"
        )
        .select(
            "s_suppkey",
            "s_name",
            F.coalesce(F.col("_is"), F.lit(False)).alias("is_seed"),
            "rank_q",
            "rank",
        )
    )


def _bfs_oracle(max_hops: int = 4) -> str:
    """Twin of graph_bfs_supplier_radius: the purchase-graph edges,
    then ``max_hops`` unrolled frontier-expansion levels (join + min),
    then the per-hop census."""
    parts = ["""
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey) t),
    d0 AS (SELECT CAST(3 AS BIGINT) AS node, 0 AS dist)"""]
    for i in range(1, max_hops + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{i - 1} d JOIN ed e ON e.src = d.node) t
      GROUP BY 1)""")
    parts.append(f"""
    SELECT dist,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers
    FROM d{max_hops}
    GROUP BY 1
    """)
    return "".join(parts)


@query("graph_bfs_supplier_radius", oracle=_bfs_oracle(), gate=False)
def graph_bfs_supplier_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-HOP BFS (``operators.graph.bfs_distances``) — exact
    hop distances from supplier #1's node through the purchase graph,
    reported as a per-hop census (how many suppliers/customers sit at
    each radius): the neighborhood-expansion primitive (crawl
    frontier, fraud-ring radius) and the graph family's traversal
    member next to centrality and communities. Each hop is one
    frontier⋈edges equi-join + one min-distance aggregate with the
    iterate checkpointed; 4 hops unroll into 4 oracle CTE levels."""
    from ..operators.graph import bfs_distances

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cust_node"),
        (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    sources = route.driver_frame(spark, [(3,)], "node long")  # supplier #1
    # measured r10: serving this demo from the bucketed layout
    # (edges_ready — re-scan per hop instead of build+checkpoint) was
    # 3.7 vs 3.4 s raw at sf0.1: with only 4 hops the one-time build
    # amortizes and checkpoint row blocks outscan the catalog re-read.
    # The edges_ready path remains the operator's answer where the
    # edge table doesn't fit executor memory.
    dist = bfs_distances(edges, sources, max_hops=4)
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
        F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_customers"),
    )


def pagerank_weighted_levels(
    ed_cte: str, iters: int = 8, num: int = 85, den: int = 100,
    pfx: str = "",
) -> str:
    """Weighted twin of :func:`pagerank_oracle_levels`: the caller's
    ``ed(src, dst, w)`` CTE carries positive integer weights,
    out-degree becomes out-STRENGTH (Σw), and each edge contributes
    the per-edge trunc division ``(rank · w) // out_strength`` —
    exactly the operator's DECIMAL(38,0) expression. ``pfx``
    prefixes every CTE name so the levels compose into oracles whose
    other fragments already use ``c{i}``-style names (the default
    keeps the historical names byte-identical)."""
    q40 = 1 << 40
    teleport = ((den - num) * q40) // den
    P = pfx
    parts = [f"""
    {P}ed AS MATERIALIZED ({ed_cte}),
    {P}nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM {P}ed UNION ALL SELECT dst FROM {P}ed) t),
    {P}od AS (SELECT src AS node, CAST(SUM(w) AS HUGEINT) AS outdeg
           FROM {P}ed GROUP BY 1),
    {P}base AS MATERIALIZED (
      SELECT n.node, COALESCE(o.outdeg, 0) AS outdeg
      FROM {P}nodes n LEFT JOIN {P}od o USING (node)),
    {P}nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM {P}base),
    {P}r0 AS MATERIALIZED (
      SELECT node, outdeg, CAST({q40} AS HUGEINT) AS rq FROM {P}base)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
    {P}c{i} AS (
      SELECT e.dst AS node, SUM((r.rq * e.w) // r.outdeg) AS in_q
      FROM {P}r{i - 1} r JOIN {P}ed e ON e.src = r.node
      WHERE r.outdeg > 0 GROUP BY 1),
    {P}d{i} AS (SELECT COALESCE(SUM(rq), 0) AS dang
             FROM {P}r{i - 1} WHERE outdeg = 0),
    {P}r{i} AS MATERIALIZED (
      SELECT b.node, b.outdeg,
             {teleport} + ({num} * (COALESCE(c.in_q, 0)
               + (SELECT dang FROM {P}d{i}) // (SELECT n FROM {P}nn)))
               // {den} AS rq
      FROM {P}base b LEFT JOIN {P}c{i} c USING (node))""")
    return ",".join(parts)


def _pagerank_weighted_oracle(iters: int = 8) -> str:
    ed = """
        SELECT src, dst, w FROM (
          SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2
          UNION ALL
          SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2) t"""
    return (
        "WITH " + pagerank_weighted_levels(ed, iters) + f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rq AS BIGINT) AS rank_q,
           CAST(r.rq AS DOUBLE) / {float(1 << 40)} AS rank
    FROM r{iters} r JOIN supplier s ON r.node = 2 * s.s_suppkey + 1
    """
    )


@query(
    "graph_pagerank_weighted", oracle=_pagerank_weighted_oracle(), gate=False
)
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the purchase graph — the trade-VOLUME
    random walk: each customer↔supplier edge carries its line-item
    count, so a walker follows heavy trading relationships
    proportionally instead of treating one order like a thousand
    (``operators.graph.pagerank(weight_col=...)``; contributions are
    per-edge trunc divisions ``(rank·w) // out_strength`` in
    DECIMAL(38,0)/HUGEINT — the weighted walk is exactly as
    replayable as the unweighted one, and the twin unrolls the same
    8 levels with Σw out-strengths)."""
    from ..operators.graph import pagerank

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"),
        F.col("supp_node").alias("dst"),
        "w",
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"),
            F.col("cust_node").alias("dst"),
            "w",
        )
    )
    # measured r10: routing this demo through the bucketed layout
    # (edges_ready + weights_checked) was consistently ~1.5 s SLOWER
    # in the broadcast regime (8.1 vs 6.5 s medians, layout-first
    # ordering) — the raw path's edge groupBy materializes from an
    # AQE-coalesced shuffle while the layout path re-copies the
    # 32-bucket scan. The layout stays the shuffle-regime answer
    # (its w column is there for that path); the demo keeps raw.
    ranks = pagerank(edges, iters=8, weight_col="w")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return ranks.join(
        supp, ranks["node"] == supp["s_suppkey"] * 2 + 1
    ).select("s_suppkey", "s_name", "rank_q", "rank")


_PAIR_CTE = """pair AS MATERIALIZED (
      SELECT 2 * o_custkey AS c, 2 * l_suppkey + 1 AS s,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2)"""


def _components_oracle(min_trades: int = 4, iters: int = 6, k: int = 20) -> str:
    """Min-label fixpoint unrolled (full re-propagation — the engine's
    changed-frontier delta walks identical levels; the min-merge
    absorbs re-deliveries)."""
    parts = [f"""
    WITH {_PAIR_CTE},
    ed AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM pair WHERE w >= {min_trades}
      UNION ALL
      SELECT s AS src, c AS dst FROM pair WHERE w >= {min_trades}),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    l{i} AS MATERIALIZED (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM l{i - 1}
        UNION ALL
        SELECT e.dst AS node, l.label
        FROM l{i - 1} l JOIN ed e ON e.src = l.node) t
      GROUP BY 1)""")
    parts.append(f"""
    SELECT label AS component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label)
                AS INTEGER) AS position
    FROM l{iters}
    GROUP BY label
    ORDER BY n_members DESC, component
    LIMIT {k}
    """)
    return "".join(parts)


@query(
    "graph_components_trading_blocs", oracle=_components_oracle(), gate=False
)
def graph_components_trading_blocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTED COMPONENTS (``operators.graph.connected_components``,
    the graph family's fifth member): the LOYAL-trade subgraph —
    customer↔supplier pairs with ≥ 4 trades — fragments into isolated
    trading blocs (73 components at sf0.01), and the min-label
    fixpoint names each bloc by its minimum node id. The update is
    monotone, so the engine propagates only the CHANGED frontier each
    round while the DuckDB twin re-propagates everything — identical
    labels at every one of the 6 unrolled levels (the BFS
    frontier-delta argument). Census of the top-20 blocs by size."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .where(F.col("w") >= 4)
    )
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pair.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    labels = connected_components(edges, iters=6)
    w = Window.orderBy(F.desc("n_members"), F.asc("component"))
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(
                F.when(F.col("node") % 2 == 1, 1).otherwise(0)
            ).cast("bigint").alias("n_suppliers"),
        )
        .withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select("component", "n_members", "n_suppliers", "position")
    )


def _communities_weighted_oracle(
    min_trades: int = 2, iters: int = 4, k: int = 20
) -> str:
    """Weighted LPA unrolled: votes are trade COUNTS (not mere
    adjacency), self-vote weight 1, smallest-label ties — HUGEINT
    sums mirror the engine's DECIMAL(38,0)."""
    parts = [f"""
    WITH {_PAIR_CTE},
    ed AS MATERIALIZED (
      SELECT c AS src, s AS dst, w FROM pair WHERE w >= {min_trades}
      UNION ALL
      SELECT s AS src, c AS dst, w FROM pair WHERE w >= {min_trades}),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    v{i} AS (SELECT e.dst AS node, l.label, e.w AS v
             FROM l{i - 1} l JOIN ed e ON e.src = l.node
             UNION ALL SELECT node, label, CAST(1 AS BIGINT) FROM l{i - 1}),
    c{i} AS (SELECT node, label, SUM(v) AS n
             FROM v{i} GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                  ORDER BY n DESC, label) AS rk
        FROM c{i}) t
      WHERE rk = 1)""")
    parts.append(f"""
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppliers,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label)
                AS INTEGER) AS position
    FROM l{iters}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT {k}
    """)
    return "".join(parts)


@query(
    "graph_communities_weighted",
    oracle=_communities_weighted_oracle(),
    gate=False,
)
def graph_communities_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED LABEL PROPAGATION
    (``operators.graph.label_propagation`` with ``weight_col``, the
    graph family's sixth member): communities of the repeat-trade
    purchase graph where a neighbor's vote counts the TRADE FREQUENCY
    — a customer follows the supplier bloc it trades with most, not
    the one with the most one-off contacts (170 communities at
    sf0.01; the strength-aware census a marketplace segmentation
    wants). Same deterministic contract as unweighted LPA (self-vote
    weight 1, smallest-label ties, DECIMAL(38,0)/HUGEINT vote sums);
    the DuckDB twin unrolls all 4 weighted vote→sum→argmax rounds
    bit-for-bit. Top-20 communities by size."""
    from pyspark.sql import Window

    from ..operators.graph import label_propagation

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .where(F.col("w") >= 2)
    )
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    )
    labels = label_propagation(edges, iters=4, weight_col="w")
    w = Window.orderBy(F.desc("n_members"), F.asc("community"))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(
                F.when(F.col("node") % 2 == 1, 1).otherwise(0)
            ).cast("bigint").alias("n_suppliers"),
        )
        .withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select("community", "n_members", "n_suppliers", "position")
    )


def _triangles_oracle(min_shared: int = 4, k: int = 20) -> str:
    """Degree-ordered triangle enumeration replayed in SQL: identical
    (degree, id) total order, identical wedge+closing-edge logic."""
    return f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    co AS MATERIALIZED (
      SELECT a.c AS x, b.c AS y
      FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT x AS node FROM co UNION ALL SELECT y FROM co) t
      GROUP BY 1),
    orient AS MATERIALIZED (
      SELECT CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND co.x < co.y)
                  THEN co.x ELSE co.y END AS s,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND co.x < co.y)
                  THEN co.y ELSE co.x END AS d
      FROM co
      JOIN deg da ON da.node = co.x
      JOIN deg db ON db.node = co.y),
    tri AS (
      SELECT o1.s AS apex, o1.d AS b, o2.d AS c
      FROM orient o1 JOIN orient o2 ON o1.s = o2.s AND o1.d < o2.d
      WHERE EXISTS (SELECT 1 FROM co e
                    WHERE e.x = LEAST(o1.d, o2.d)
                      AND e.y = GREATEST(o1.d, o2.d))),
    pern AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT apex AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) t
      GROUP BY 1)
    SELECT d.node AS c_custkey,
           COALESCE(p.n_triangles, 0) AS n_triangles,
           CAST(ROW_NUMBER() OVER (
             ORDER BY COALESCE(p.n_triangles, 0) DESC, d.node)
             AS INTEGER) AS position
    FROM deg d LEFT JOIN pern p USING (node)
    ORDER BY n_triangles DESC, c_custkey
    LIMIT {k}
    """


@query("graph_triangles_copurchase", oracle=_triangles_oracle(), gate=False)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTS (``operators.graph.shared_item_triangles``, the graph
    family's seventh member): local clustering over the customer
    co-purchase graph — customers sharing ≥ 4 distinct parts — where
    a triangle-dense neighborhood marks a tightly-clustered buying
    circle (the same signal that flags link farms and boilerplate
    rings on a web graph). Degree-ordered enumeration: every edge is
    oriented from its lower-(degree, id) endpoint, so each triangle
    is counted once at its lowest-degree apex and the wedge join's
    fan-out stays Σ d^(3/2) — hub nodes never expand their own d²
    neighborhoods. Three joins, no iteration, no Python; the DuckDB
    twin replays the identical orientation and wedge logic. Top-20
    customers by triangle membership."""
    from pyspark.sql import Window

    from ..operators.graph import shared_item_triangles

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # co-purchase pairs: customers sharing >= 4 distinct parts — the
    # shared_item_pairs operator (distributed: materialized distinct
    # (part, customer) + part-keyed self-join + count >= 4, the exact
    # plan this query used to inline; driver-routed under the edge
    # budget — r14, the join was 2.7 s of the query's 4 s at sf0.1),
    # whose routed pairs go straight to the numpy triangle count
    counts = shared_item_triangles(
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"]).select(
            F.col("l_partkey").alias("p"), F.col("o_custkey").alias("c")
        ),
        "p",
        "c",
        min_shared=4,
    )
    w = Window.orderBy(F.desc("n_triangles"), F.asc("c_custkey"))
    return (
        counts.select(F.col("node").alias("c_custkey"), "n_triangles")
        .withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select("c_custkey", "n_triangles", "position")
    )


def _affinity_distance_oracle(max_hops: int = 4, k: int = 20) -> str:
    """Min-plus relaxation unrolled (full re-relaxation — the engine's
    improved-only frontier walks identical levels)."""
    parts = [f"""
    WITH {_PAIR_CTE},
    ed AS MATERIALIZED (
      SELECT c AS src, s AS dst, GREATEST(1, 8 - w) AS cost FROM pair
      UNION ALL
      SELECT s AS src, c AS dst, GREATEST(1, 8 - w) AS cost FROM pair),
    d0 AS (SELECT CAST(3 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)"""]
    for i in range(1, max_hops + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.cost AS dist
        FROM d{i - 1} d JOIN ed e ON e.src = d.node) t
      GROUP BY 1)""")
    parts.append(f"""
    SELECT node, CAST(dist AS BIGINT) AS dist,
           CAST(node % 2 = 1 AS BOOLEAN) AS is_supplier,
           CAST(ROW_NUMBER() OVER (ORDER BY dist, node) AS INTEGER)
             AS position
    FROM d{max_hops}
    ORDER BY dist, node
    LIMIT {k}
    """)
    return "".join(parts)


@query(
    "graph_affinity_distance", oracle=_affinity_distance_oracle(), gate=False
)
def graph_affinity_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED WEIGHTED SHORTEST PATHS
    (``operators.graph.shortest_paths_bounded``, the graph family's
    eighth member — min-plus Bellman-Ford): trade-affinity distance
    from supplier 1 over the purchase graph, edge cost = max(1, 8 −
    trades) so frequent trading partners are CLOSE — the weighted
    generalization of the BFS radius demo (and of multi-hop
    trust/affinity propagation on an interaction graph). Integer
    costs make every relaxation exact; the engine relaxes only the
    improved frontier each round while the DuckDB twin re-relaxes
    everything — identical costs at all 4 unrolled levels. Top-20
    closest nodes."""
    from pyspark.sql import Window

    from ..operators.graph import shortest_paths_bounded

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cost = F.greatest(F.lit(1).cast("long"), F.lit(8) - F.col("w"))
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), cost.alias("cost")
    ).unionByName(
        pair.select(
            F.col("s").alias("src"), F.col("c").alias("dst"), cost.alias("cost")
        )
    )
    srcs = spark.range(1).select(F.lit(3).cast("long").alias("node"))
    dist = shortest_paths_bounded(
        edges, srcs, weight_col="cost", max_hops=4
    )
    w = Window.orderBy(F.asc("dist"), F.asc("node"))
    return (
        dist.withColumn("is_supplier", (F.col("node") % 2 == 1))
        .withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select("node", "dist", "is_supplier", "position")
    )


def _kcore_oracle(k: int = 3, rounds: int = 6, min_trades: int = 3) -> str:
    """Twin of graph_kcore_suppliers: the >= min_trades purchase
    subgraph, then ``rounds`` unrolled peel levels (degree filter +
    two node restrictions per level)."""
    parts = [f"""
    WITH ed AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst,
               COUNT(*) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2) t
      WHERE w >= {min_trades}),
    e0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ed
        UNION ALL
        SELECT dst AS src, src AS dst FROM ed) u)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    n{r} AS (SELECT src AS node FROM e{r - 1}
             GROUP BY 1 HAVING COUNT(*) >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r - 1} e
      JOIN n{r} a ON e.src = a.node
      JOIN n{r} b ON e.dst = b.node)""")
    parts.append(f"""
    SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e{rounds} e JOIN supplier s ON e.src = 2 * s.s_suppkey + 1
    GROUP BY 1, 2
    """)
    return "".join(parts)


@query("graph_kcore_suppliers", oracle=_kcore_oracle(), gate=False)
def graph_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE MEMBERSHIP (``operators.graph.kcore``): the suppliers
    inside the 3-core of the repeat-trade purchase graph (pairs with
    ≥ 3 trades), with their in-core degree — the graph-curation
    primitive for separating structurally-embedded participants from
    peripheral ones (a host's k-core number resists the single-burst
    edge spam that inflates raw degree; production crawl pipelines
    peel low-core hosts before trust propagation). Each peel level is
    one degree aggregation + two node-keyed semi-restrictions with
    the iterate checkpointed; 6 levels unroll into the DuckDB twin,
    and level-6 == level-7 (converged) is pinned in tests."""
    from ..operators.graph import kcore

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 3)
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    core = kcore(edges, k=3, rounds=6)
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return core.join(supp, core["node"] == supp["s_suppkey"] * 2 + 1).select(
        "s_suppkey", "s_name", "deg"
    )


def _coreness_oracle(
    k_max: int = 4, rounds: int = 6, min_trades: int = 2
) -> str:
    """Twin of graph_coreness_census: successive-peel core
    decomposition unrolled — for each k in 2..k_max, ``rounds`` peel
    levels continuing from the previous k's survivor graph; coreness
    = 1 + Σ_k [node survives the k-peel]."""
    parts = [f"""
    WITH ed AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst,
               COUNT(*) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2) t
      WHERE w >= {min_trades}),
    e2_0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ed
        UNION ALL
        SELECT dst AS src, src AS dst FROM ed) u),
    base AS (SELECT DISTINCT src AS node FROM e2_0)"""]
    prev = "e2_0"
    surv = []
    for k in range(2, k_max + 1):
        if k > 2:
            parts.append(f",\n    e{k}_0 AS (SELECT * FROM {prev})")
            prev = f"e{k}_0"
        for r in range(1, rounds + 1):
            parts.append(f""",
    n{k}_{r} AS (SELECT src AS node FROM {prev}
                 GROUP BY 1 HAVING COUNT(*) >= {k}),
    e{k}_{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev} e
      JOIN n{k}_{r} a ON e.src = a.node
      JOIN n{k}_{r} b ON e.dst = b.node)""")
            prev = f"e{k}_{r}"
        parts.append(f""",
    s{k} AS (SELECT DISTINCT src AS node FROM {prev})""")
        surv.append(f"s{k}")
    flags = " + ".join(
        f"CASE WHEN {s}.node IS NOT NULL THEN 1 ELSE 0 END" for s in surv
    )
    joins = " ".join(f"LEFT JOIN {s} ON {s}.node = b.node" for s in surv)
    parts.append(f""",
    cor AS (SELECT b.node, CAST(1 + {flags} AS INTEGER) AS coreness
            FROM base b {joins})
    SELECT CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END
             AS node_type,
           coreness,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM cor GROUP BY 1, 2
    """)
    return "".join(parts)


@query("graph_coreness_census", oracle=_coreness_oracle(), gate=False)
def graph_coreness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORE-DECOMPOSITION CENSUS (``operators.graph.coreness``): how
    many suppliers/customers sit at each core number (capped at 4) in
    the ≥2-trades purchase graph — the robustness histogram that
    degree distributions fake (one burst of edges inflates degree;
    coreness requires the NEIGHBORS to be embedded too). Successive
    peeling: the k-core of the (k−1)-core, so the three peel
    sequences share one monotonically-shrinking edge set; every level
    is a degree aggregate + two node restrictions, checkpointed. The
    DuckDB twin unrolls all (k_max−1)·rounds levels."""
    from ..operators.graph import coreness

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    cor = coreness(edges, k_max=4, rounds=6)
    return cor.select(
        F.when(F.col("node") % 2 == 1, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        "coreness",
    ).groupBy("node_type", "coreness").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


def _score_oracle(k: int = 5, rounds: int = 6) -> str:
    """Twin of graph_score_suppliers: the weighted purchase graph
    (per-pair trade counts as strengths), then ``rounds`` unrolled
    strength-peel levels."""
    parts = [f"""
    WITH e0 AS MATERIALIZED (
      SELECT src, dst, w FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2) t
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2) t2)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    n{r} AS (SELECT src AS node FROM e{r - 1}
             GROUP BY 1 HAVING SUM(w) >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst, e.w FROM e{r - 1} e
      JOIN n{r} a ON e.src = a.node
      JOIN n{r} b ON e.dst = b.node)""")
    parts.append(f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(SUM(e.w) AS BIGINT) AS strength
    FROM e{rounds} e JOIN supplier s ON e.src = 2 * s.s_suppkey + 1
    GROUP BY 1, 2
    """)
    return "".join(parts)


@query("graph_score_suppliers", oracle=_score_oracle(), gate=False)
def graph_score_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-CORE MEMBERSHIP (strength core, ``graph.kcore(weight_col=)``
    — Eidsaa & Almaas 2013): suppliers inside the strength-5 core of
    the trade-weighted purchase graph, with their surviving total
    strength. The weighted twin of ``graph_kcore_suppliers``: the
    peel threshold applies to total incident TRADE VOLUME, so a
    supplier survives on the combined weight of its relationships
    (many weak ties or few strong ties — either suffices when the
    strength matches), the robustness gate for weighted interaction
    graphs. Same per-level shape (one strength aggregation + two
    node restrictions, checkpointed); integer weights keep the 6
    unrolled oracle levels exact."""
    from ..operators.graph import kcore

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"),
        F.col("supp_node").alias("dst"),
        "w",
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"),
            F.col("cust_node").alias("dst"),
            "w",
        )
    )
    core = kcore(edges, k=5, rounds=6, weight_col="w")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return core.join(supp, core["node"] == supp["s_suppkey"] * 2 + 1).select(
        "s_suppkey", "s_name", F.col("deg").alias("strength")
    )


def _er_oracle(iters: int = 6) -> str:
    """Twin of er_customer_entities: planted dirty variants, blocked
    multi-attribute levenshtein matching (both engines implement
    classic edit distance), then the min-label component fixpoint
    unrolled."""
    parts = [f"""
    WITH recs AS MATERIALIZED (
      SELECT c_custkey AS rid, c_name AS name,
             c_mktsegment AS seg, c_nationkey AS nat
      FROM customer
      UNION ALL
      SELECT c_custkey + 100000000,
             substr(c_name, 1, length(c_name) - 1) || 'X',
             c_mktsegment, c_nationkey
      FROM customer WHERE c_custkey % 7 = 0),
    pairs AS MATERIALIZED (
      SELECT a.rid AS ra, b.rid AS rb FROM recs a JOIN recs b
        ON substr(a.name, 1, length(a.name) - 2)
             = substr(b.name, 1, length(b.name) - 2)
       AND a.seg = b.seg AND a.nat = b.nat AND a.rid < b.rid
       AND levenshtein(a.name, b.name) <= 1),
    ed AS MATERIALIZED (
      SELECT ra AS src, rb AS dst FROM pairs
      UNION ALL
      SELECT rb AS src, ra AS dst FROM pairs),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    l{i} AS MATERIALIZED (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label FROM l{i - 1}
        UNION ALL
        SELECT e.dst AS node, l.label
        FROM l{i - 1} l JOIN ed e ON e.src = l.node) t
      GROUP BY 1)""")
    parts.append(f"""
    SELECT e.label AS entity,
           CAST(e.n_records AS BIGINT) AS n_records,
           CAST(e.n_dirty AS BIGINT) AS n_dirty,
           r.name AS canonical_name
    FROM (SELECT label, COUNT(*) AS n_records,
                 SUM(CASE WHEN node >= 100000000 THEN 1 ELSE 0 END)
                   AS n_dirty
          FROM l{iters} GROUP BY 1) e
    JOIN recs r ON r.rid = e.label
    """)
    return "".join(parts)


@query("er_customer_entities", oracle=_er_oracle(), gate=False)
def er_customer_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION — the record-linkage pipeline (Fellegi-Sunter
    family, rule-based form): every 7th customer gets a planted dirty
    duplicate (last name character mangled — the typo/OCR failure
    mode), and the pipeline must link records back into entities:
    (1) BLOCKING on the name prefix (all but the last 2 chars) so
    candidate generation is an equi-join, never n² comparisons;
    (2) multi-attribute MATCH rule — levenshtein(name) ≤ 1 AND equal
    market segment AND equal nation (classic edit distance, identical
    in both engines; the auxiliary attributes kill most same-prefix
    false matches exactly as production linkage rules do);
    (3) TRANSITIVE CLOSURE via the min-label component fixpoint, so
    chains of pairwise matches collapse into one entity keyed by its
    minimum record id. Returns matched entities with record counts,
    planted-variant counts, and the canonical (min-id) name. At
    100 TB: blocking bounds every block to a handful of records, the
    match join shuffles only (block, seg, nat) keys, and components
    iterate one join + one min-agg per level.

    FALSE-MERGE CONTRACT (``operators/er.py`` — the knob production
    ER tunes): with these defaults the rule merges any two DISTINCT
    customers whose names agree up to the last 2 characters and
    differ by ≤ 1 edit there whenever segment+nation also collide —
    e.g. ``Customer#…01`` vs ``Customer#…02`` in the same
    (segment, nation) block. The oracle encodes the same rule, so
    the result is exact BY THE RULE; precision against planted truth
    is what ``tests/test_er_sweep.py`` measures across the
    (block_suffix, max_edit, attrs) grid."""
    from ..operators.er import link_records

    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    dirty = table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 7 == 0
    ).select(
        (F.col("c_custkey") + 100000000).alias("rid"),
        F.expr(
            "concat(substr(c_name, 1, length(c_name) - 1), 'X')"
        ).alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
    )
    from ..operators.materialize import materialize

    recs = materialize(cust.unionByName(dirty))
    labels = link_records(
        recs, attrs=("seg", "nat"), block_suffix=2, max_edit=1, iters=6
    )
    ent = labels.groupBy(F.col("label").alias("entity")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("node") >= 100000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dirty"),
    )
    return ent.join(recs, ent["entity"] == recs["rid"]).select(
        "entity", "n_records", "n_dirty", F.col("name").alias("canonical_name")
    )


def _harmonic_oracle(max_hops: int = 3) -> str:
    """Twin of graph_harmonic_sampled: the purchase graph replicated
    once per seed (node' = node·8 + seed_index — the multi-source-BFS
    graph-product trick), ONE unrolled BFS over the product, then the
    integer harmonic sum 6 // d (lcm(1..3) = 6 keeps 1/d exact)."""
    parts = ["""
    WITH ed0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 2 * l_suppkey + 1 AS src, 2 * o_custkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey) t),
    ed AS MATERIALIZED (
      SELECT src * 8 + u.si AS src, dst * 8 + u.si AS dst
      FROM ed0, (SELECT unnest([0, 1, 2]) AS si) u),
    d0 AS (SELECT CAST(node AS BIGINT) AS node, 0 AS dist
           FROM (VALUES (24), (41), (58)) v(node))"""]
    for i in range(1, max_hops + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{i - 1} d JOIN ed e ON e.src = d.node) t
      GROUP BY 1)""")
    parts.append(f""",
    per AS (SELECT node // 8 AS node, 6 // dist AS hq
            FROM d{max_hops} WHERE dist > 0)
    SELECT s.s_suppkey, s.s_name,
           CAST(SUM(per.hq) AS BIGINT) AS harm_q,
           CAST(COUNT(*) AS BIGINT) AS n_seeds,
           CAST(SUM(per.hq) AS DOUBLE) / 6.0 AS harmonic
    FROM per JOIN supplier s ON per.node = 2 * s.s_suppkey + 1
    GROUP BY 1, 2
    """)
    return "".join(parts)


@query("graph_harmonic_sampled", oracle=_harmonic_oracle(), gate=False)
def graph_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED HARMONIC CENTRALITY — Σ_seeds 1/d(seed, v) over a
    bounded hop radius: THE host-ranking signal of Common Crawl's
    published pipeline (harmonic centrality replaced PageRank there),
    made tractable the standard way — exact distances from a SAMPLE
    of seed nodes instead of all-pairs. Engineered as ONE bounded BFS
    instead of |seeds| runs: the graph-product trick replicates the
    edge table once per seed (node' = node·8 + seed_index) and seeds
    each replica at its own source, so per-seed distances come out of
    a single frontier-delta traversal — |seeds|× the rows per level,
    1× the job rounds (at 1000 executors, scheduling rounds are the
    scarce resource, rows are not). Scores stay exact integers:
    lcm(1..3) = 6 makes every 1/d a whole number of sixths. Suppliers
    ranked by proximity mass to the 3-seed sample."""
    from ..operators.graph import bfs_distances

    ord_ = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cust_node"),
        (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
        )
    )
    seeds = [(1 * 2 + 1), (2 * 2 + 1), (3 * 2 + 1)]  # suppliers 1, 2, 3
    reps = None
    for si in range(len(seeds)):
        r = edges.select(
            (F.col("src") * 8 + si).alias("src"),
            (F.col("dst") * 8 + si).alias("dst"),
        )
        reps = r if reps is None else reps.unionByName(r)
    sources = route.driver_frame(
        spark, [(int(s * 8 + si),) for si, s in enumerate(seeds)], "node long"
    )
    dist = bfs_distances(reps, sources, max_hops=3)
    per = dist.where(F.col("dist") > 0).select(
        F.expr("node DIV 8").alias("node"),
        F.expr("6 DIV dist").alias("hq"),
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(supp, per["node"] == supp["s_suppkey"] * 2 + 1)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.sum("hq").cast("bigint").alias("harm_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_seeds"),
            (F.sum("hq").cast("double") / F.lit(6.0)).alias("harmonic"),
        )
    )
