"""Extended relational operators: pivot/unpivot, as-of join, range join,
deterministic moment statistics, scalar subqueries.

These cover the "common OLAP patterns" band beyond SURVEY.md §2.5's core
list. Same determinism rules as everywhere (functions/numeric.py):
decimal-cast sums, VARCHAR-routed decimal->double in DuckDB oracles,
epoch-bigint timestamps, unique window tiebreakers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hadoop_distexec_spark.functions import group_local
from hadoop_distexec_spark.functions.cache import cached
from hadoop_distexec_spark.functions.numeric import SQL_REVENUE, dsum, revenue_expr
from hadoop_distexec_spark.registry import register
from hadoop_distexec_spark.sources.tables import table


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS qty_o,
           CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS qty_f,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on line status with explicit value list (Catalyst rewrites
    pivot to conditional aggregation — exactly the oracle's CASE form)."""
    li = table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"),
            F.count(F.lit(1)),
        )
    )
    # pivot column names come out as "O_<aggname>"; normalize + recompute
    # total count from the two pivoted counts
    qty_o = next(c for c in p.columns if c.startswith("O_") and "sum" in c.lower())
    qty_f = next(c for c in p.columns if c.startswith("F_") and "sum" in c.lower())
    cnt_o = next(c for c in p.columns if c.startswith("O_") and "count" in c.lower())
    cnt_f = next(c for c in p.columns if c.startswith("F_") and "count" in c.lower())
    return p.select(
        "l_returnflag",
        F.col(qty_o).alias("qty_o"),
        F.col(qty_f).alias("qty_f"),
        (F.coalesce(F.col(cnt_o), F.lit(0)) + F.coalesce(F.col(cnt_f), F.lit(0))).alias("n_items"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS value FROM orders
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) two measures into long form — the inverse of pivot."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("o_custkey_d")
    )
    up = o.unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey_d"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return up.select(
        "o_orderkey",
        F.when(F.col("measure") == "o_totalprice", "totalprice").otherwise("custkey").alias("measure"),
        "value",
    )


@register(
    "q_asof_join",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_us
    FROM events
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (for each event, the latest strictly-earlier purchase by
    the same user). Spark has no native ASOF JOIN; the scalable pattern is
    a single ordered window with last(..., ignorenulls) — one shuffle on
    user_id, no pair blowup, works at any scale. (pd.merge_asof via
    applyInPandas is the alternative when the two sides are separate
    tables; here the window form keeps everything JVM-side.)"""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.last(purchase_ts, ignorenulls=True).over(w).alias("prev_purchase_us"),
    )


# value bands for the range join (inline dimension, deliberately non-uniform)
_BANDS = [(0, 0.0, 25.0), (1, 25.0, 75.0), (2, 75.0, 150.0), (3, 150.0, 100000.0)]
_BANDS_SQL = "(VALUES " + ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _BANDS) + ") AS b(band_id, lo, hi)"


@register(
    "q_range_join",
    oracle=f"""
    SELECT band_id, event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events JOIN {_BANDS_SQL}
      ON value >= CAST(lo AS DOUBLE) AND value < CAST(hi AS DOUBLE)
    GROUP BY band_id, event_type
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join of events.value against a band dimension.
    Spark executes inequality joins as BroadcastNestedLoopJoin — fine for a
    tiny broadcast dim; at 100 TB the band table stays broadcast so the
    fact side never shuffles. (For two large interval sides, bucketize to
    an equi-join first — see q_stream_slide's window enumeration for the
    same trick in time space.)"""
    e = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, ["band_id", "lo", "hi"])
    joined = e.join(
        F.broadcast(bands),
        (e.value >= bands.lo.cast("double")) & (e.value < bands.hi.cast("double")),
    )
    return joined.groupBy("band_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mean_price,
           (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                          * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
            - CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              * CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              / COUNT(*))
            / (COUNT(*) - 1) AS var_price,
           SQRT((CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                          * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE)
            - CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              * CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
              / COUNT(*))
            / (COUNT(*) - 1)) AS stddev_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (mean/variance/stddev) made cross-engine
    deterministic: exact decimal S1 and S2, then the textbook
    (S2 - S1^2/n)/(n-1) in identical IEEE double ops. Built-in stddev_samp
    would be order-dependent across engines."""
    li = table(spark, sf_dir, "lineitem")
    price_dec = F.col("l_extendedprice").cast("decimal(18,4)")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(price_dec).cast("double").alias("_s1"),
        F.sum(price_dec * price_dec).cast("double").alias("_s2"),
    )
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("n")) / (F.col("n") - 1)
    return base.select(
        "l_returnflag",
        "n",
        (F.col("_s1") / F.col("n")).alias("mean_price"),
        var.alias("var_price"),
        F.sqrt(var).alias("stddev_price"),
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-collection aggregate exported as a sorted joined string —
    collect_set is unordered by contract, so the deterministic export is
    sort_array + concat_ws (mirrored by ORDER BY inside string_agg)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "q_agg_median",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation over the sorted values —
    order-insensitive by definition, both engines interpolate (a+b)*f the
    same way on identical doubles)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
    )


@register(
    "q_fn_levenshtein",
    oracle="""
    SELECT p_partkey, p_name,
           CAST(levenshtein(p_name, 'red widget') AS INT) AS dist_to_red_widget,
           CAST(levenshtein(p_brand, p_type) AS INT) AS brand_type_dist
    FROM part
    """,
)
def q_fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance battery (fuzzy matching is a staple of entity
    resolution in data pipelines); integer outputs, exact both engines."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.levenshtein(F.col("p_name"), F.lit("red widget")).alias("dist_to_red_widget"),
        F.levenshtein(F.col("p_brand"), F.col("p_type")).alias("brand_type_dist"),
    )


@register(
    "q_fn_explode",
    oracle="""
    SELECT vec_id, CAST(u.i - 1 AS INT) AS dim, CAST(embedding[u.i] AS DOUBLE) AS val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    WHERE vec_id < 50
    """,
)
def q_fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode as a first-class operator: embeddings to long form
    (dim, value) — the layout feeding columnar vector math and the IVF
    centroid build."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 480000.0
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with a join-side predicate: unmatched customers
    survive with nulls (the predicate must stay in the ON clause, not a
    WHERE — a classic outer-join semantics trap, mirrored exactly)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 480000.0)
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "q_join_full_outer",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n_urgent FROM orders
               WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey),
         b AS (SELECT o_custkey AS k, COUNT(*) AS n_low FROM orders
               WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey)
    SELECT COALESCE(a.k, b.k) AS custkey, a.n_urgent, b.n_low
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates — both-sided null preservation."""
    o = table(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("ak"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    b = (
        o.filter(F.col("o_orderpriority") == "5-LOW")
        .groupBy(F.col("o_custkey").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_low"))
    )
    return a.join(b, a.ak == b.bk, "full_outer").select(
        F.coalesce("ak", "bk").alias("custkey"), "n_urgent", "n_low"
    )


@register(
    "q_fn_cond",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN 'high'
                WHEN o_totalprice > 200000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS status_or_pending,
           IF(o_orderpriority = '1-URGENT', 1, 0) AS is_urgent,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip
    FROM orders
    """,
)
def q_fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional + null-handling + cast battery (CASE, NULLIF/COALESCE,
    IF, numeric/string casts). double->int conversion goes through FLOOR
    (Spark's cast truncates, DuckDB's rounds — FLOOR agrees everywhere
    for the positive domain)."""
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") > 400000, "high")
        .when(F.col("o_totalprice") > 200000, "mid")
        .otherwise("low")
    )
    return o.select(
        "o_orderkey",
        band.alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending")).alias(
            "status_or_pending"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_urgent"),
        F.floor("o_totalprice").alias("price_int"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
    )


@register(
    "q_agg_minmax",
    oracle="""
    SELECT l_returnflag,
           MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
           MIN(l_shipdate) AS first_ship_ts, MAX(l_shipdate) AS last_ship_ts,
           MIN(l_linestatus) AS min_status, MAX(l_linestatus) AS max_status
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX over doubles, timestamps and strings — order-insensitive by
    definition, so raw values are safe even cross-engine. (The timestamp
    columns are the one place raw timestamps ARE exported: min/max of
    parquet-identical instants round-trip exactly.)"""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("first_ship_ts"),
        F.max("l_shipdate").alias("last_ship_ts"),
        F.min("l_linestatus").alias("min_status"),
        F.max("l_linestatus").alias("max_status"),
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL API — same Catalyst Expand
    plan as rollup/cube, arbitrary set list."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "q_win_ntile",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS price_quartile,
           FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS first_order,
           NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_order
    FROM orders
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles + first/nth value windows (unique tiebreakers
    everywhere, so both engines tile identically)."""
    o = table(spark, sf_dir, "orders")
    w_global = W.orderBy("o_totalprice", "o_orderkey")
    w_cust = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w_global).alias("price_quartile"),
        F.first("o_orderkey").over(w_cust).alias("first_order"),
        F.nth_value("o_orderkey", 2).over(
            w_cust.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("second_order"),
    )


@register(
    "q_sql_star",
    oracle="""
    SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_lineitems,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c_mktsegment, YEAR(o_orderdate)
    """,
)
def q_sql_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (TPC-H Q3 flavor): the engine's spark.sql path —
    same Catalyst plan as the DataFrame API, dialect aside."""
    for t in ("lineitem", "orders", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"_sql_{t}")
    return spark.sql(
        """
        SELECT c_mktsegment, YEAR(o_orderdate) AS order_year,
               COUNT(*) AS n_lineitems,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM _sql_lineitem JOIN _sql_orders ON l_orderkey = o_orderkey
                           JOIN _sql_customer ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY c_mktsegment, YEAR(o_orderdate)
        """
    )


@register(
    "q_sql_corr_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             / COUNT(*)
      FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
)
def q_sql_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through spark.sql — orders 1.5x above
    *their own customer's* average. Catalyst decorrelates this into an
    aggregate + join; no per-row re-execution anywhere."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_corr_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM _corr_orders o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM _corr_orders i WHERE i.o_custkey = o.o_custkey)
        """
    )


@register(
    "q_ts_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT (CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) // 300) * 300 AS lo,
             (CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) // 300) * 300 AS hi
      FROM events
    ),
    grid AS (
      SELECT UNNEST(generate_series(lo, hi, 300)) AS bucket FROM bounds
    ),
    agg AS (
      SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 AS bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT g.bucket,
           COALESCE(a.n_events, 0) AS n_events,
           CASE WHEN a.n_events IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM grid g LEFT JOIN agg a ON g.bucket = a.bucket
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: build the full 5-minute grid with
    F.sequence+explode, left-join the bucket aggregate, zero-fill gaps.
    The grid generation is one row per bucket regardless of data volume —
    the resample pattern that makes sparse event streams chartable."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.select((F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bounds = e.agg(
        (F.floor(F.min(F.unix_timestamp("ts")) / 300) * 300).cast("long").alias("lo"),
        (F.floor(F.max(F.unix_timestamp("ts")) / 300) * 300).cast("long").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(300))).alias("bucket")
    )
    return grid.join(hourly, "bucket", "left").select(
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("n_events").isNull(), 1).otherwise(0).alias("was_gap"),
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                    AS VARCHAR) AS DOUBLE) / COUNT(*) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 1.5x the global average price. Expressed
    as an aggregate cross-joined (broadcast) into the filter — the same
    plan Catalyst builds for an uncorrelated scalar subquery."""
    o = table(spark, sf_dir, "orders")
    avg_df = o.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))).alias(
            "_avg"
        )
    )
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# gap threshold for batch sessionization (micros); 30 min, the classic default
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "q_sessionize",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    brk AS (
      SELECT user_id, event_id, tus,
             CASE WHEN prev_us IS NULL OR tus - prev_us > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_start
      FROM lagged
    ),
    tagged AS (
      SELECT user_id, tus,
             SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY tus, event_id) AS session_seq
      FROM brk
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
           COUNT(*) AS n_events
    FROM tagged GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into sessions at
    >30-min inactivity gaps (lag -> break flag -> running sum -> group).
    The streaming twin is q_stream_session (session_window); this is the
    backfill/batch form. One shuffle on user_id; the two windows and the
    final groupBy all share that partitioning (single Exchange in the
    plan), so at 100 TB the cost is one repartition of the event log plus
    a per-user sort — the plan you'd want. Timestamps exported as epoch
    micros (functions/numeric.py rule 4); (tus, event_id) is the unique
    window tiebreaker (rule 5)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    prev = F.lag("tus").over(w)
    is_start = F.when(
        prev.isNull() | (F.col("tus") - prev > SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    tagged = e.withColumn("is_start", is_start).withColumn(
        "session_seq", F.sum("is_start").over(w)
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.min("tus").alias("session_start_us"),
        F.max("tus").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_win_frame",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w7 AS VARCHAR) AS DOUBLE)
             AS mov_sum7,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w7 AS VARCHAR) AS DOUBLE)
             / COUNT(*) OVER w7 AS mov_avg7,
           percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id)
             AS pct_rank
    FROM events
    WINDOW w7 AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS-frame windows: 7-row moving sum/average per user plus
    percent_rank — the frame-clause band of the window surface (the
    default-frame forms are q_win_running/q_win_rank). Both windows
    partition on user_id, so one Exchange serves them; the moving sum is
    decimal-cast before summing (order-insensitive, functions/numeric.py
    rule 1) and percent_rank orders by the unique (value, event_id) pair so
    both engines assign identical ranks."""
    e = table(spark, sf_dir, "events")
    w7 = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-6, 0)
    )
    wp = W.partitionBy("user_id").orderBy("value", "event_id")
    mov_sum = F.sum(F.col("value").cast("decimal(18,4)")).over(w7).cast("double")
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        mov_sum.alias("mov_sum7"),
        (mov_sum / F.count(F.lit(1)).over(w7)).alias("mov_avg7"),
        F.percent_rank().over(wp).alias("pct_rank"),
    )


# bucket width for the equi-join rewrite of the interval join; each interval
# [lo, hi) expands to ceil((hi-lo)/W) bucket rows
_RANGE_BUCKET_W = 25.0


@register(
    "q_range_join_bucketed",
    oracle=f"""
    SELECT band_id, event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events JOIN {_BANDS_SQL}
      ON value >= CAST(lo AS DOUBLE) AND value < CAST(hi AS DOUBLE)
    GROUP BY band_id, event_type
    """,
)
def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big-big scale path for the interval join: bucketize the value
    axis (width _RANGE_BUCKET_W), expand each interval to the buckets it
    covers, equi-join on the bucket id, then apply the exact range filter
    as a residual predicate. Each point lands in exactly one bucket so no
    dedup is needed, and the result is identical to q_range_join's
    inequality form — same oracle SQL, bit for bit.

    Why it matters: Spark executes a plain inequality join as
    BroadcastNestedLoopJoin, which requires one side to fit in memory. The
    bucket rewrite turns it into a shuffled equi-join (hash-partitioned,
    AQE-skewable) that works when BOTH sides are 100 TB-large — the same
    trick q_stream_slide's window enumeration uses in time space. The
    interval side grows by its bucket fan-out (bounded by interval length
    / W), the point side by 0."""
    e = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, ["band_id", "lo", "hi"])
    nb = F.ceil(
        (F.col("hi").cast("double") - F.col("lo").cast("double")) / _RANGE_BUCKET_W
    ).cast("long")
    first = F.floor(F.col("lo").cast("double") / _RANGE_BUCKET_W).cast("long")
    bands_b = bands.select(
        "band_id",
        F.col("lo").cast("double").alias("lo"),
        F.col("hi").cast("double").alias("hi"),
        F.explode(F.sequence(first, first + nb)).alias("bucket"),
    )
    e_b = e.withColumn(
        "bucket", F.floor(F.col("value") / _RANGE_BUCKET_W).cast("long")
    )
    joined = e_b.join(bands_b, "bucket").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return joined.groupBy("band_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@register(
    "q_latest_by_key",
    oracle="""
    WITH r AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnk
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, tus AS last_ts_us,
           event_type AS last_type, value AS last_value
    FROM r WHERE rnk = 1
    """,
)
def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction — the upsert/changelog/SCD pattern
    (dedupe an event log to current state). One user_id shuffle; at scale
    this is the standard log-compaction pass before serving state, and
    AQE's skew split handles hot keys. (event_id DESC is the deterministic
    tiebreaker for same-microsecond events.)"""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "q_dq_profile",
    oracle="""
    SELECT 'orders_rows' AS metric, COUNT(*) AS value FROM orders
    UNION ALL
    SELECT 'orders_null_custkey', COUNT(*) FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_distinct_custkey', COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'orders_fk_violations', COUNT(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_rows', COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'lineitem_qty_out_of_range', COUNT(*) FROM lineitem
      WHERE l_quantity <= 0 OR l_quantity > 50
    UNION ALL
    SELECT 'events_null_user', COUNT(*) FROM events WHERE user_id IS NULL
    UNION ALL
    SELECT 'documents_empty_text', COUNT(*) FROM documents
      WHERE LENGTH(TRIM(text)) = 0
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: row counts, null counts, distinct
    cardinality, referential-integrity violations (orders->customer
    anti-join), domain-range checks — the constraint/expectation pass a
    production pipeline runs before publishing a dataset. Each metric is
    a partial-aggregable scan (the FK check is a broadcast-able anti-join
    against the key column only); metrics union into one (metric, value)
    frame so downstream alerting diffs a single tiny table."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")
    d = table(spark, sf_dir, "documents")

    def one(name, df):
        return df.agg(F.count(F.lit(1)).alias("value")).select(
            F.lit(name).alias("metric"), "value"
        )

    fk = o.join(c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti")
    parts = [
        one("orders_rows", o),
        one("orders_null_custkey", o.filter(F.col("o_custkey").isNull())),
        o.agg(F.countDistinct("o_custkey").alias("value")).select(
            F.lit("orders_distinct_custkey").alias("metric"), "value"
        ),
        one("orders_fk_violations", fk),
        one("lineitem_rows", li),
        one(
            "lineitem_qty_out_of_range",
            li.filter((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)),
        ),
        one("events_null_user", e.filter(F.col("user_id").isNull())),
        one("documents_empty_text", d.filter(F.length(F.trim("text")) == 0)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "q_join_bloom",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           CAST(SUM({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dimension fact join executed with Catalyst's *runtime
    bloom filter* injection: the optimizer aggregates a bloom filter over
    the filtered orders keys (`bloom_filter_agg`) and pushes a
    `BloomFilterMightContain` predicate into the lineitem scan, so most
    fact rows are dropped before the shuffle instead of after it. On a 100
    TB fact table with a 1%-selective dimension filter this is the
    difference between shuffling the whole fact table and shuffling ~1% of
    it — the semi-join-reduction pattern the big engines apply, as a
    Catalyst runtime filter. Join semantics stay exact (bloom false
    positives are removed by the join itself), so the oracle is the plain
    join.

    Broadcast is disabled *inside this query only* (saved/restored in a
    finally) because a broadcast hash join already prunes build-misses at
    the probe — the bloom path is the big-big shuffle-join regime; the
    scan-size floor is lowered so the sandbox-sized fixture triggers what
    a cluster-scale input would trigger naturally. The plan assertion
    makes the query self-guarding: if a Spark upgrade stops injecting the
    filter, the harness fails loudly rather than silently regressing to a
    full-fact shuffle."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(revenue_expr()).cast("double").alias("revenue"),
            )
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        # materialize under the saved confs so the restore below can't
        # race the driver's later collect
        return j.localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


ANOMALY_Z = 3.0  # |z| threshold


@register(
    "q_anomaly",
    oracle=f"""
    WITH stats AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(19,4))
                           * CAST(value AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS s2
      FROM events GROUP BY event_type),
    m AS (SELECT event_type, s1/n AS mean,
                 SQRT(GREATEST((s2 - s1*s1/n)/(n-1), 0.0)) AS std
          FROM stats WHERE n >= 2),
    mf AS (SELECT * FROM m WHERE std > 0)
    SELECT event_id, events.event_type, value, (value - mean)/std AS z
    FROM events JOIN mf ON events.event_type = mf.event_type
    WHERE ABS((value - mean)/std) >= {ANOMALY_Z}
    """,
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event_type — the statistical
    data-quality sweep that catches corrupted measurements / unit
    mismatches before they poison training aggregates (complements the
    constraint-based q_dq_profile). Grouped moments use the exact-decimal
    S1/S2 trick from q_agg_stats so mean/std are bit-identical across
    engines; the z-score itself is per-row IEEE (rule 3).

    Degenerate groups are excluded *identically in both engines* — a
    singleton group (n-1 = 0) or zero-variance group divides by zero,
    where Spark yields NaN (and NaN >= z is true, emitting the rows)
    while DuckDB yields NULL (dropping them), and a rounding-induced
    tiny-negative variance is a hard SQRT range error in DuckDB vs NaN
    in Spark. Hence: n >= 2, variance clamped at 0, std > 0 required.

    Shape: one hash-aggregate over events (|event_type| rows out),
    broadcast the tiny stats table back onto the events scan, per-row
    filter — a single Exchange regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("_s1"),
        F.sum(vdec * vdec).cast("double").alias("_s2"),
    )
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("n")) / (F.col("n") - 1)
    stats = (
        stats.filter(F.col("n") >= 2)
        .select(
            "event_type",
            (F.col("_s1") / F.col("n")).alias("_mean"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("_std"),
        )
        .filter(F.col("_std") > 0)
    )
    z = (F.col("value") - F.col("_mean")) / F.col("_std")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
        .select("event_id", "event_type", "value", "z")
    )


@register(
    "q_hll_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custkeys,
           TRUE AS within_tol
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts per group
    (approx_count_distinct, rsd 2%) next to the exact count for the same
    key — the cardinality-sketch path for 100 TB interactive profiling,
    where exact COUNT(DISTINCT) is a full shuffle of every distinct value
    but the HLL sketch is a few KB per group merged map-side. Sketch
    estimates are engine-specific, so the raw estimate can't be oracle'd;
    the q_agg_approx pattern applies instead: the exact count is
    hash-checked directly and the sketch-vs-exact tolerance (5%, 2.5
    sigma at rsd 2%) is a boolean the oracle asserts as literal TRUE.
    The error bound is additionally asserted with the raw estimate in
    tests/test_round2_ops.py. Exact twin: q_agg_distinct."""
    o = table(spark, sf_dir, "orders")
    # sketch and exact arms as SEPARATE aggregations joined on the 5-row
    # priority key — mixing a distinct aggregate with the HLL buffer in
    # one agg plans an Expand that drags the buffer through every doubled
    # row (the round-7 q_agg_approx/sliding_distinct finding; this was
    # the tripwire's last whitelisted instance)
    sketch = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("_approx")
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custkeys")
    )
    agg = sketch.join(exact, "o_orderpriority")
    return agg.select(
        "o_orderpriority",
        "exact_custkeys",
        (F.abs(F.col("_approx") - F.col("exact_custkeys"))
         <= 0.05 * F.col("exact_custkeys")).alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# fuzzy join (edit-distance <= 1, deletion-neighborhood blocking)
# ---------------------------------------------------------------------------


@register(
    "q_fuzzy_join",
    oracle="""
    WITH v AS (
      SELECT c_custkey AS key, c_name AS name,
             UNNEST(list_prepend(c_name,
                 list_transform(range(1, length(c_name) + 1),
                     i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)))) AS variant
      FROM customer
    ),
    cand AS (
      SELECT DISTINCT a.key AS key_a, a.name AS name_a,
                      b.key AS key_b, b.name AS name_b
      FROM v a JOIN v b ON a.variant = b.variant AND a.key < b.key
    )
    SELECT key_a, key_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: pairs of customer names within Levenshtein
    distance 1, found WITHOUT an all-pairs scan. Blocking uses the
    deletion neighborhood: each name emits itself plus every
    one-character-deleted variant; any two strings within one edit
    (substitute / insert / delete) provably share a variant, so an
    equi-join on the variant finds every candidate and the exact
    levenshtein filter keeps only true pairs. |variants| = O(n·len), the
    join is a hash equi-join on short strings — the typo-dedup /
    entity-resolution shape that scales where crossJoin+levenshtein
    (O(n²) string DPs) cannot. Adversarial hot variants (mass-duplicated
    strings) would get the MAX_SHINGLE_DF-style frequency cap from the
    shingle family; TPC-H names are near-unique so none is needed here.

    The variant generator is explode(sequence) + substring concat —
    whole-stage codegen, not an interpreted HOF (the shingling lesson).
    Levenshtein is the textbook DP in both engines => identical values."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    c = c.repartition(spark.sparkContext.defaultParallelism, "key")
    v = c.select(
        "key",
        "name",
        F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
    ).select(
        "key",
        "name",
        F.when(F.col("i") == 0, F.col("name"))
        .otherwise(
            F.concat(
                F.expr("substring(name, 1, i - 1)"),
                F.expr("substring(name, i + 1, length(name))"),
            )
        )
        .alias("variant"),
    )
    a = v.select(F.col("key").alias("key_a"), F.col("name").alias("name_a"), "variant")
    b = v.select(F.col("key").alias("key_b"), F.col("name").alias("name_b"), "variant")
    cand = (
        a.join(b, "variant")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("name_a", "name_b")).filter(
        F.col("dist") <= 1
    )


# ---------------------------------------------------------------------------
# round-3 function-surface additions
# ---------------------------------------------------------------------------


@register(
    "q_agg_mode",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS modal_status, n
    FROM (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY COUNT(*) DESC, o_orderstatus) AS rn
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (argmax-by-count): the most frequent
    o_orderstatus within each o_orderpriority, with its count.
    Deterministic tiebreak on the value itself — Spark's built-in mode()
    breaks ties arbitrarily, so the operator is the explicit
    count-then-rank form both engines agree on. Shape: one grouped count
    (map-side combined) + a window over the tiny group-combination set —
    the heavy Exchange carries (priority, status) pairs, not rows."""
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderpriority").orderBy(F.col("n").desc(), F.col("o_orderstatus"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("modal_status"), "n")
    )


@register(
    "q_regex_extract_all",
    oracle="""
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '[a-z]+'), ' ') AS words,
           CAST(LEN(regexp_extract_all(p_name, '[a-z]+')) AS INT) AS n_words,
           array_to_string(regexp_extract_all(p_type, '[A-Z]+'), '|') AS upper_runs
    FROM part
    """,
)
def q_regex_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract-all regex surface: every match of a pattern per row (the
    one-to-many sibling of regexp_extract), exported as joined strings so
    the driver's canonicalizer can hash the frame (array cells are
    unhashable — the q_agg_approx r01 lesson). Pure per-row codegen,
    zero shuffles."""
    p = table(spark, sf_dir, "part")
    # explicit group 0 (whole match): Spark defaults to capture group 1,
    # DuckDB to 0 — the patterns carry no capture groups
    words = F.regexp_extract_all("p_name", F.lit("[a-z]+"), F.lit(0))
    return p.select(
        "p_partkey",
        F.array_join(words, " ").alias("words"),
        F.size(words).cast("int").alias("n_words"),
        F.array_join(
            F.regexp_extract_all("p_type", F.lit("[A-Z]+"), F.lit(0)), "|"
        ).alias("upper_runs"),
    )


# ---------------------------------------------------------------------------
# round 4: exact percentiles, SCD-2 history build, bucketed co-located join
# ---------------------------------------------------------------------------

_PCTS = (25, 50, 75)  # percentile points, as integer hundredths


def _pct_row_sql(p: int) -> str:
    """DuckDB twin of the integer-exact percentile rank selectors at
    p/100, evaluated per row (n is constant within a group).

    lo = ((n-1)*p) // 100 and rem = ((n-1)*p) % 100 are exact integers;
    v_lo / v_hi are the unique values at ranks lo and lo+ceil(rem/100);
    the interpolation v_lo + (v_hi - v_lo) * (rem/100.0) is a fixed
    three-op IEEE tree, identical in Spark and DuckDB."""
    lo = f"(((n - 1) * {p}) // 100)"
    rem = f"(((n - 1) * {p}) % 100)"
    hi = f"({lo} + CASE WHEN {rem} > 0 THEN 1 ELSE 0 END)"
    return (
        f"CASE WHEN i = {lo} THEN v END AS vlo{p}, "
        f"CASE WHEN i = {hi} THEN v END AS vhi{p}, "
        f"{rem} AS rem{p}"
    )


def _pct_agg_sql(p: int) -> str:
    vlo, vhi = f"MAX(vlo{p})", f"MAX(vhi{p})"
    return f"({vlo} + ({vhi} - {vlo}) * (MAX(rem{p}) / 100.0))"


def _spark_pcts(df: DataFrame, pcts) -> DataFrame:
    """Spark twin of _pct_row_sql / _pct_agg_sql: the integer-exact
    interpolated percentiles of ``v`` per ``g`` over ``df`` (g, v, ...),
    one window sort that spills. Returns (g, n, p{p} for each p in
    ``pcts``): the window tier of the order-statistics ids, used when a
    group is too large for one task."""
    ranked = df.select(
        "g", "v",
        (F.row_number().over(W.partitionBy("g").orderBy("v")) - 1).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("g")).alias("n"),
    )
    sel = [f"_{c}{p}" for p in pcts for c in ("vlo", "vhi", "rem")]
    for p in pcts:
        lo = F.expr(f"((n - 1) * {p}) div 100")
        rem = ((F.col("n") - 1) * p) % 100
        hi = lo + F.when(rem > 0, 1).otherwise(0)
        ranked = ranked.withColumns({
            f"_vlo{p}": F.when(F.col("i") == lo, F.col("v")),
            f"_vhi{p}": F.when(F.col("i") == hi, F.col("v")),
            f"_rem{p}": rem,
        })
    agg = ranked.groupBy("g").agg(F.max("n").alias("n"), *[F.max(c).alias(c) for c in sel])

    def pct(p: int):
        vlo, vhi = F.col(f"_vlo{p}"), F.col(f"_vhi{p}")
        return vlo + (vhi - vlo) * (F.col(f"_rem{p}").cast("double") / 100.0)

    # a fresh g attribute: callers join the result back onto ``df``
    return agg.select(F.col("g").alias("g"), "n", *[pct(p).alias(f"p{p}") for p in pcts])


def _interp_pct_np(xs, p: int) -> float:
    """Numpy twin of _spark_pcts for one group: the integer-exact
    interpolated p-th percentile of the ascending-sorted array ``xs``,
    with the identical IEEE operation order, so the value is bit-equal
    to the window tier's."""
    n = len(xs)
    lo = ((n - 1) * p) // 100
    rem = ((n - 1) * p) % 100
    hi = lo + (1 if rem > 0 else 0)
    return float(xs[lo]) + (float(xs[hi]) - float(xs[lo])) * (rem / 100.0)


@register(
    "q_agg_percentile",
    oracle=f"""
    WITH vals AS (SELECT l_returnflag AS g, l_quantity AS v FROM lineitem),
    r AS (SELECT g, v,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) - 1 AS i
          FROM vals),
    n AS (SELECT g, COUNT(*) AS n FROM vals GROUP BY g),
    j AS (SELECT r.g, r.v, r.i, n.n,
                 {_pct_row_sql(25)}, {_pct_row_sql(50)}, {_pct_row_sql(75)}
          FROM r JOIN n USING (g))
    SELECT g AS l_returnflag, MAX(n) AS n,
           {_pct_agg_sql(25)} AS p25,
           {_pct_agg_sql(50)} AS p50,
           {_pct_agg_sql(75)} AS p75,
           TRUE AS median_ok
    FROM j GROUP BY g
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75 of l_quantity per
    return flag) plus an approx_percentile sketch cross-checked against the
    exact median (the q_agg_approx TRUE-flag pattern: the sketch value
    can't cross-engine-hash, so the *within-tolerance boolean* is the
    hash-checked column and the oracle asserts literal TRUE).

    Determinism: built-in percentile()/quantile_cont() interpolate with
    engine-local double math (h = p*(n-1) may differ by 1 ulp at
    boundaries), so both engines instead compute the textbook formula with
    *integer-exact* rank arithmetic — lo = ((n-1)*p) div 100, rem in
    hundredths — and interpolate the two unique rank values with one fixed
    IEEE expression tree. row_number ties on equal v are harmless: every
    rank inside a tie block holds the same value.

    Shape: the exact tier is one ``group_local.cell_local`` pass — numpy
    sorts each bounded group in-task and applies the identical integer-
    exact rank interpolation at all three points (_interp_pct_np, guide
    §4.2) — while the GK production tier is a map-side-combinable hash
    aggregate over the same pinned rows. A group over
    ``BOUNDS["order_stats"]`` rows sends every group to the r4 window
    tier (_spark_pcts) instead, which sorts with spilling. At 100 TB the
    exact path is the audit tier and approx_percentile is the production
    tier — this query ships both and proves they agree."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("v")
    )

    def _pcts(t):
        import numpy as np
        import pyarrow as pa

        xs = np.sort(t.column("v").to_numpy())
        pcts = {f"p{p}": [_interp_pct_np(xs, p)] for p in _PCTS}
        return pa.table({"g": t.column("g")[:1], "n": [len(xs)], **pcts})

    schema = "g string, n long, " + ", ".join(f"p{p} double" for p in _PCTS)
    exact, li = group_local.cell_local(
        li, "g", "order_stats", _pcts, schema, lambda pin: _spark_pcts(pin, _PCTS)
    )
    approx_p50 = F.percentile_approx("v", 0.5, 10000).alias("_approx_p50")
    agg = exact.join(li.groupBy("g").agg(approx_p50), "g")
    # GK sketch with accuracy 10000 has rank error <= n/10000 (~6 ranks at
    # sf0.1); l_quantity is dense near the median, so 1.0 of headroom is
    # generous while still catching a broken sketch.
    return agg.select(
        F.col("g").alias("l_returnflag"), "n", "p25", "p50", "p75",
        (F.abs(F.col("_approx_p50") - F.col("p50")) <= F.lit(1.0)).alias("median_ok"),
    )


@register(
    "q_quantile_bins",
    oracle=f"""
    WITH vals AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
    r AS (SELECT g, v,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) - 1 AS i
          FROM vals),
    n AS (SELECT g, COUNT(*) AS n FROM vals GROUP BY g),
    j AS (SELECT r.g, r.v, r.i, n.n,
                 {_pct_row_sql(25)}, {_pct_row_sql(50)}, {_pct_row_sql(75)}
          FROM r JOIN n USING (g)),
    b AS (SELECT g,
                 {_pct_agg_sql(25)} AS p25,
                 {_pct_agg_sql(50)} AS p50,
                 {_pct_agg_sql(75)} AS p75
          FROM j GROUP BY g),
    bins AS (
      SELECT vals.g,
             (CASE WHEN v > p25 THEN 1 ELSE 0 END
              + CASE WHEN v > p50 THEN 1 ELSE 0 END
              + CASE WHEN v > p75 THEN 1 ELSE 0 END) AS bin
      FROM vals JOIN b USING (g)),
    c AS (SELECT g, bin, COUNT(*) AS n_rows FROM bins GROUP BY g, bin)
    SELECT c.g AS l_returnflag, CAST(c.bin AS INT) AS bin,
           CASE c.bin WHEN 1 THEN p25 WHEN 2 THEN p50 WHEN 3 THEN p75 END AS lo,
           CASE c.bin WHEN 0 THEN p25 WHEN 1 THEN p50 WHEN 2 THEN p75 END AS hi,
           n_rows, TRUE AS bounds_ok
    FROM c JOIN b USING (g)
    """,
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram / range-partition boundaries: per group, the
    exact p25/p50/p75 cut points and the row count that lands in each of
    the 4 resulting bins — the statistic behind balanced range
    partitioning (repartitionByRange's sampler estimates exactly this),
    CBO histograms, and skew diagnosis before a big range join.

    Determinism: boundaries reuse q_agg_percentile's integer-exact rank
    arithmetic; bin assignment is strict `v > boundary` (ties land low,
    deterministically); counts are exact ints.

    Two tiers in one query (the q_robust_stats pattern): the exact
    boundaries need a per-group ordered pass — the audit tier, run on
    samples at 100 TB (which is literally what Spark's range sampler
    does) — while approx_percentile recomputes all three boundaries
    sketch-side with no sort; bounds_ok (0.5% relative + 1.0 absolute,
    per boundary) is the hash-checked TRUE-flag asserting the production
    tier tracks the exact one.

    Shape: the exact tier is one ``group_local.cell_local`` pass — numpy
    sorts each bounded group once, cuts p25/p50/p75 and counts the
    non-empty bins in the same task — and the GK tier is one hash
    aggregate over the same pinned rows. A group over
    ``BOUNDS["order_stats"]`` rows sends every group to
    _quantile_bins_window_tier instead."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
    )

    def _bins(t):
        import numpy as np
        import pyarrow as pa

        xs = np.sort(t.column("v").to_numpy())
        cuts = [_interp_pct_np(xs, p) for p in _PCTS]
        # strict v > cut, ties land low: the registered bin rule
        per_bin = np.bincount((xs[:, None] > cuts).sum(axis=1), minlength=4)
        bins = np.flatnonzero(per_bin)
        edges = [None, *cuts, None]
        return pa.table({
            "g": t.column("g").take(np.zeros(len(bins), np.int64)),
            "bin": bins,
            "lo": [edges[k] for k in bins],
            "hi": [edges[k + 1] for k in bins],
            "n_rows": per_bin[bins],
            **{f"p{p}": [c] * len(bins) for p, c in zip(_PCTS, cuts)},
        })

    schema = "g string, bin int, lo double, hi double, n_rows long, " + ", ".join(
        f"p{p} double" for p in _PCTS
    )
    exact, li = group_local.cell_local(
        li, "g", "order_stats", _bins, schema, _quantile_bins_window_tier
    )
    apx = li.groupBy("g").agg(
        F.percentile_approx("v", [p / 100.0 for p in _PCTS], 10000).alias("_apx")
    )

    def close(p: int, idx: int):
        exact = F.col(f"p{p}")
        approx = F.col("_apx")[idx]
        return F.abs(approx - exact) <= (F.lit(0.005) * F.abs(exact) + F.lit(1.0))

    return exact.join(apx, "g").select(
        F.col("g").alias("l_returnflag"), "bin", "lo", "hi", "n_rows",
        (close(25, 0) & close(50, 1) & close(75, 2)).alias("bounds_ok"),
    )


def _quantile_bins_window_tier(li: DataFrame) -> DataFrame:
    """q_quantile_bins' exact tier without holding a group in one task:
    the window percentiles (_spark_pcts) broadcast back onto the scan for
    bin counting (map-side combinable; the bin-count pass never sorts).
    The cut points ride the bin-count grouping keys (constant per g), so
    the boundary frame is evaluated once. Same rows and schema as the
    kernel: (g, bin, lo, hi, n_rows, p25, p50, p75)."""
    bounds = _spark_pcts(li, _PCTS).drop("n")
    cuts = [f"p{p}" for p in _PCTS]
    bin_col = sum(F.when(F.col("v") > F.col(c), 1).otherwise(0) for c in cuts).cast("int")
    cnt = (
        li.join(F.broadcast(bounds), "g")
        .groupBy("g", bin_col.alias("bin"), *cuts)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    pick = lambda m: F.element_at(  # noqa: E731
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in m]), F.array(*[F.col(v) for v in m.values()])
        ),
        F.col("bin"),
    )
    return cnt.select(
        "g", "bin",
        pick({1: "p25", 2: "p50", 3: "p75"}).alias("lo"),
        pick({0: "p25", 1: "p50", 2: "p75"}).alias("hi"),
        "n_rows", *cuts,
    )


@register(
    "q_scd2",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value
      FROM events),
    c AS (
      SELECT *,
             LAG(value) OVER
               (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
               AS prev_v,
             ROW_NUMBER() OVER
               (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
               AS rn
      FROM e),
    chg AS (
      SELECT user_id, event_type, ts_us, event_id, value FROM c
      WHERE rn = 1 OR prev_v IS DISTINCT FROM value)
    SELECT user_id, event_type, value,
           ts_us AS valid_from_us,
           LEAD(ts_us) OVER
             (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
             AS valid_to_us,
           LEAD(ts_us) OVER
             (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
             IS NULL AS is_current
    FROM chg
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: compress the event stream
    into validity intervals of `value` per (user_id, event_type) —
    the metadata-table history a training pipeline keeps for sources,
    licenses, or filter configs. lag() drops runs of unchanged values,
    lead() closes each surviving interval; the open interval is flagged
    is_current.

    The change test is NULL-safe (IS DISTINCT FROM / eqNullSafe): a
    value->NULL transition opens a NULL-valued interval and NULL->value
    closes it, instead of the naive `<>` silently dropping the NULL
    period; the first row per key is kept by rank, not by `lag IS NULL`,
    so a history that STARTS with a NULL value is still recorded.

    Shape: both windows share the (user_id, event_type) partitioning, so
    the whole build rides ONE Exchange — the change-filter between them
    preserves partitioning (no second shuffle; plan-gated in
    tests/test_plans.py). Timestamps export as epoch-micro bigints and
    ordering ties break on event_id (functions/numeric.py rules 4-5)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros("ts").alias("ts_us"), "event_id", "value",
    )
    return scd2_intervals(e)


def scd2_intervals(e: DataFrame) -> DataFrame:
    """The SCD-2 build over a (user_id, event_type, ts_us, event_id,
    value) frame — see q_scd2; NULL-transition semantics are pytest-gated
    (tests/test_round4_ops.py)."""
    w = W.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    chg = e.withColumns(
        {"prev_v": F.lag("value").over(w), "rn": F.row_number().over(w)}
    ).filter(
        (F.col("rn") == 1) | ~F.col("prev_v").eqNullSafe(F.col("value"))
    )
    to = F.lead("ts_us").over(w)
    return chg.select(
        "user_id", "event_type", "value",
        F.col("ts_us").alias("valid_from_us"),
        to.alias("valid_to_us"),
        to.isNull().alias("is_current"),
    )


def bucketed_tables(spark: SparkSession, sf_dir: str, n_buckets: int = 8):
    """Write orders and customer as co-bucketed sorted tables (bucketBy on
    the join key) and return the catalog-backed DataFrames. Re-runnable:
    fixed external paths per sf_dir, mode=overwrite."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"distexec_bucketed_{tag}")
    names = {}
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"bkt_{tbl}_{tag}"
        (
            table(spark, sf_dir, tbl)
            .write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(root, tbl))
            .mode("overwrite")
            .saveAsTable(name)
        )
        names[tbl] = name
    return spark.table(names["orders"]), spark.table(names["customer"])


@register(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS segment_total,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: both sides are written bucketBy(8, key) +
    sortBy, so the SortMergeJoin reads bucket i against bucket i with NO
    Exchange and NO Sort on either side — the zero-shuffle big-big join.
    At 100 TB this is THE join strategy for a fact table repeatedly joined
    on the same key (pay one bucketed write, then every subsequent join is
    shuffle-free); Spark's bucketing is the DataFrame-era twin of Hive
    bucketed tables. The write itself is the operator under test:
    bucketing metadata must round-trip through the catalog for the scan to
    report outputPartitioning = HashPartitioning(key, 8).

    Broadcast is disabled inside the query (saved/restored) because the
    sandbox-sized customer table would otherwise broadcast and hide the
    bucketed plan this query exists to exercise; the no-shuffle shape is
    plan-asserted here and regression-gated in tests/test_plans.py. Join
    semantics are exact, so the oracle is the plain join+agg."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bc = bucketed_tables(spark, sf_dir)
        j = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, (
            "bucketed join must be shuffle-free:\n" + plan
        )
        out = j.groupBy("c_mktsegment").agg(
            dsum("o_totalprice", "segment_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@register(
    "q_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    u AS (SELECT DISTINCT user_id FROM e),
    v AS (SELECT user_id, MIN(ts_us) AS view_us
          FROM e WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(ts_us) AS click_us
          FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts_us > view_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(ts_us) AS purchase_us
          FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts_us > click_us
          GROUP BY e.user_id)
    SELECT u.user_id, view_us, click_us, purchase_us,
           CASE WHEN purchase_us IS NOT NULL THEN 3
                WHEN click_us IS NOT NULL THEN 2
                WHEN view_us IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
    FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase, strictly
    increasing timestamps): per user, the earliest view, the earliest
    click AFTER that view, the earliest purchase AFTER that click, and
    the funnel stage reached. The ordering constraint is what makes this
    a funnel, not three independent mins — a purchase before the first
    view does not count.

    Shape: three chained unbounded aggregate-windows over ONE user_id
    partitioning — Catalyst stacks the Window operators on a single
    Exchange (plan-gated: one hashpartitioning Exchange before the final
    per-user collapse), so the sequential stage dependency costs no extra
    shuffles. The oracle computes the same stages as chained filtered
    aggregations and lets DuckDB pick its own plan."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = W.partitionBy("user_id")
    step1 = e.withColumn(
        "view_us",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
    )
    step2 = step1.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("view_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("click_us")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    per_user = step3.groupBy("user_id").agg(
        F.max("view_us").alias("view_us"),
        F.max("click_us").alias("click_us"),
        F.max("purchase_us").alias("purchase_us"),
    )
    stage = (
        F.when(F.col("purchase_us").isNotNull(), 3)
        .when(F.col("click_us").isNotNull(), 2)
        .when(F.col("view_us").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(
        "user_id", "view_us", "click_us", "purchase_us",
        stage.alias("funnel_stage"),
    )


_US_PER_DAY = 86_400_000_000


@register(
    "q_retention",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day FROM events),
    first AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
    SELECT cohort_day, (day - cohort_day) // 7 AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM e JOIN first USING (user_id)
    GROUP BY cohort_day, week_offset
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day (their
    cohort), counted distinct in each subsequent week-offset bucket — the
    activity-decay table behind every retention curve.

    Determinism: day boundaries are integer division of epoch-micro
    bigints (exact in both engines; timestamps never leave as raw
    timestamps, functions/numeric.py rule 4).

    Shape: one Exchange builds the per-user cohort table; it joins back
    to events broadcast when it fits (the local plan) and as a user_id
    equi-shuffle — the same key the aggregate already hashed — when it
    doesn't; COUNT(DISTINCT user) runs as Spark's standard two-phase
    distinct (dedup on (cohort, offset, user), then count). Output cells
    are bounded by days x offsets regardless of event volume."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.expr("(day - cohort_day) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# round-4b: path/behavior analytics over the events stream
# ---------------------------------------------------------------------------


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type) AS prob
    FROM t
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each (prev_type -> next_type) adjacent pair (ordered by timestamp
    with event_id as the unique tiebreaker, numeric rule 5), the
    transition count and the row-normalized probability.

    Determinism: counts are exact ints; prob is ONE double division of
    two bigints (numeric rule 2) — bit-identical across engines.

    Shape: one user_id Exchange feeds the lag window; the pair aggregate
    reduces to at most |event_types|^2 rows, so the normalizing window
    over prev_type runs on a trivially small table. At 100 TB the only
    real shuffle is the per-user sequence partitioning — the same key
    every sessionization op already hashes — and AQE coalesces the
    k^2-row tail."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wnorm = W.partitionBy("prev_type")
    return t.withColumn(
        "prob",
        F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wnorm),
    )


@register(
    "q_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events)
    SELECT COALESCE(touch_type, '(none)') AS touch_type,
           COUNT(*) AS n_purchases,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch_type, '(none)')
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the most
    recent PRECEDING non-purchase event of the same user (the "touch");
    output is purchases and decimal-exact attributed value per touch
    channel, '(none)' for purchases with no prior touch.

    Shape: the ignore-nulls last_value rides the same single user_id
    Exchange as every sequence op (window frame is rows-bounded, so
    Spark streams it without buffering whole partitions); the final
    aggregate reduces to |event_types| rows. No joins — the classic
    as-of-style attribution join is expressed as a window, which is the
    shuffle-minimal formulation at any scale."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch_type", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("(none)")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value", "attributed_value"),
        )
    )


_MERGE_GAP_US = 300_000_000  # events within 5 min merge into one interval


@register(
    "q_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_MERGE_GAP_US} AS e,
             event_id
      FROM events),
    flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN s > MAX(e) OVER (PARTITION BY user_id
                                        ORDER BY s, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS island
      FROM flagged),
    merged AS (
      SELECT user_id, island, MIN(s) AS start_us, MAX(e) AS end_us
      FROM islands GROUP BY user_id, island)
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(SUM(end_us - start_us) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merging: each event opens a 5-minute
    activity interval; overlapping/touching intervals per user merge into
    islands, and the output is each user's island count and total covered
    time. (NULL-safe: the first row's running max is NULL, and NULL > s
    is false -> flagged 0, so island numbering starts at 0 for every
    user in BOTH engines.)

    Determinism: all arithmetic is bigint epoch-micros (numeric rule 4);
    the island flag and running sum use rows-frames over the unique
    (s, event_id) order.

    Shape: the canonical two-window island pattern — running max of
    interval end, then a running sum of the new-island flag — stacked on
    ONE user_id Exchange (both windows share partitioning + ordering, so
    Catalyst fuses them into a single sort). The merge aggregate reuses
    the same hash key. At 100 TB this is strictly cheaper than any
    self-join formulation of interval overlap (which would be O(n^2) per
    hot user)."""
    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_MERGE_GAP_US)).alias("e"),
        "event_id",
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"), F.max("e").alias("end_us")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("end_us") - F.col("start_us")).alias("covered_us"),
    )


@register(
    "q_win_cume",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM lineitem
    WHERE l_returnflag = 'R'
    WINDOW w AS (PARTITION BY l_linestatus
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def q_win_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distribution windows (percent_rank + cume_dist) over
    returned lineitems within each linestatus — the remaining two members
    of the rank-function family (q_win_rank covers rank/dense_rank,
    q_win_ntile the quantile buckets).

    Determinism: the ORDER BY key is unique (price, orderkey,
    linenumber), so rank has no peer groups to disagree on;
    percent_rank = (rank-1)/(n-1) and cume_dist = rank/n are each one
    IEEE division of exact ints (numeric rule 2).

    Shape: pushed filter (l_returnflag = 'R' reaches the parquet scan),
    then one l_linestatus Exchange shared by both window functions."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    w = W.partitionBy("l_linestatus").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_pareto_frontier",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) over parts: minimize p_retailprice,
    maximize p_size; a part survives iff no other part is at least as
    good on both dimensions and strictly better on one.

    The oracle states the O(n^2) NOT EXISTS definition; the Spark plan
    is the O(n log n) sweep: collapse to one row per distinct price
    (keeping the max size and its multiplicity), run a running max of
    size over strictly-cheaper prices, then join the per-price verdict
    back. A part is dominated iff a cheaper price level reaches its size
    (prev_max >= size) or its own price level holds a strictly larger
    size.

    Shape at 100 TB: one price aggregate (shuffle on price), a window
    over the distinct-price table (orders of magnitude smaller than the
    input), and a broadcast join back — no self-join of the full table
    anywhere. Comparisons are exact (same doubles both engines)."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = p.groupBy("p_retailprice").agg(
        F.max("p_size").alias("price_max_size")
    )
    w_cheaper = (
        W.orderBy("p_retailprice").rowsBetween(W.unboundedPreceding, -1)
    )
    verdict = per_price.withColumn(
        "prev_max_size", F.max("price_max_size").over(w_cheaper)
    )
    return (
        # verdict is per-DISTINCT-price — grows with the table; hint-free
        # so AQE broadcasts only when it fits (VERDICT r05 #1 sweep)
        p.join(verdict, "p_retailprice")
        .where(
            (
                F.col("prev_max_size").isNull()
                | (F.col("prev_max_size") < F.col("p_size"))
            )
            & (F.col("price_max_size") <= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@register(
    "q_ab_lift",
    oracle="""
    WITH purch AS (
      SELECT CAST(user_id % 2 AS INT) AS variant, value
      FROM events WHERE event_type = 'purchase'),
    stats AS (
      SELECT variant, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS revenue,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean_value,
             CASE WHEN COUNT(*) > 1 THEN
               (CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS VARCHAR)
                     AS DOUBLE)
                - CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                       AS DOUBLE)
                  * (CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                          AS DOUBLE) / COUNT(*)))
               / (COUNT(*) - 1) END AS var_value
      FROM purch GROUP BY variant)
    SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_control,
           MAX(CASE WHEN variant = 1 THEN n END) AS n_treatment,
           MAX(CASE WHEN variant = 0 THEN mean_value END) AS mean_control,
           MAX(CASE WHEN variant = 1 THEN mean_value END) AS mean_treatment,
           MAX(CASE WHEN variant = 1 THEN mean_value END)
             - MAX(CASE WHEN variant = 0 THEN mean_value END) AS lift_abs,
           (MAX(CASE WHEN variant = 1 THEN mean_value END)
             - MAX(CASE WHEN variant = 0 THEN mean_value END))
           / SQRT(MAX(CASE WHEN variant = 1 THEN var_value END)
                    / MAX(CASE WHEN variant = 1 THEN n END)
                  + MAX(CASE WHEN variant = 0 THEN var_value END)
                    / MAX(CASE WHEN variant = 0 THEN n END)) AS z_score
    FROM stats
    """,
)
def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test lift report: users split into control/treatment by
    user_id parity (deterministic, the split_train_test hashing idea),
    purchase value compared via Welch's z-score.

    Determinism: sums are decimal-cast (values and squares, numeric
    rule 1); mean and sample variance are then fixed double expression
    trees over exact aggregates; sqrt is a single correctly-rounded IEEE
    op. The two-row stats table collapses to one row with conditional
    MAX — no ordering anywhere.

    Shape: one variant aggregate (2 groups — partial agg does all the
    work map-side), then a 2-row final collapse. Scales as a pure scan;
    nothing here depends on data volume beyond the scan itself."""
    purch = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "value"
        )
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
    dec_sumsq = F.sum(
        (F.col("value") * F.col("value")).cast("decimal(28,10)")
    ).cast("double")
    n = F.count(F.lit(1))
    stats = purch.groupBy("variant").agg(
        n.alias("n"),
        dec_sum.alias("revenue"),
        (dec_sum / n).alias("mean_value"),
        # n=1 guard on BOTH engines (ADVICE r04 #4): Spark's non-ANSI
        # double 0/0 yields NULL where newer DuckDB IEEE mode yields Inf —
        # an explicit NULL keeps a degenerate single-purchase variant from
        # diverging cross-engine
        F.when(
            n > 1, (dec_sumsq - dec_sum * (dec_sum / n)) / (n - F.lit(1))
        ).alias("var_value"),
    )
    pick = lambda v, c: F.max(F.when(F.col("variant") == v, F.col(c)))  # noqa: E731
    lift = pick(1, "mean_value") - pick(0, "mean_value")
    z = lift / F.sqrt(
        pick(1, "var_value") / pick(1, "n") + pick(0, "var_value") / pick(0, "n")
    )
    return stats.agg(
        pick(0, "n").alias("n_control"),
        pick(1, "n").alias("n_treatment"),
        pick(0, "mean_value").alias("mean_control"),
        pick(1, "mean_value").alias("mean_treatment"),
        lift.alias("lift_abs"),
        z.alias("z_score"),
    )


_US_PER_MIN = 60_000_000
_US_PER_HOUR = 3_600_000_000


@register(
    "q_rollup_time",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS u, value FROM events),
    m AS (
      SELECT (u // {_US_PER_MIN}) * {_US_PER_MIN} AS bucket_us,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(18,4))) AS sv
      FROM e GROUP BY 1)
    SELECT 'minute' AS granularity, bucket_us, n_events,
           CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS sum_value
    FROM m
    UNION ALL
    SELECT 'hour', (bucket_us // {_US_PER_HOUR}) * {_US_PER_HOUR},
           CAST(SUM(n_events) AS BIGINT),
           CAST(CAST(SUM(sv) AS VARCHAR) AS DOUBLE)
    FROM m GROUP BY 2
    UNION ALL
    SELECT 'day', (bucket_us // {_US_PER_DAY}) * {_US_PER_DAY},
           CAST(SUM(n_events) AS BIGINT),
           CAST(CAST(SUM(sv) AS VARCHAR) AS DOUBLE)
    FROM m GROUP BY 2
    """,
)
def q_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup: event counts and
    decimal-exact value sums at minute, hour, and day granularity in one
    result (the TimescaleDB continuous-aggregate shape).

    Shape — partials are REUSED, not recomputed: the stream aggregates
    once at the finest granularity (minute buckets — one shuffle over
    the raw volume), then hour and day REAGGREGATE the minute partials
    (sum-of-decimal-sums is exact, so the rollup is lossless). At 100 TB
    this is 1 full-volume shuffle + two shuffles over at most
    |minutes-in-retention| rows, versus the GROUPING SETS/Expand
    formulation that triples the pre-shuffle volume. The minute partial
    is exactly what a materialized continuous aggregate would persist;
    hour/day views are then free.

    Determinism: bucket starts are integer epoch-micro arithmetic; sums
    decimal-cast (numeric rules 1/4)."""
    e = table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("u"), "value"
    )
    minute = (
        e.groupBy(
            (F.expr(f"u div {_US_PER_MIN}") * _US_PER_MIN).alias("bucket_us")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
        )
        .localCheckpoint()  # materialize the partial once; both rollups reuse it
    )

    def _roll(label: str, us_per: int) -> DataFrame:
        return (
            minute.groupBy(
                (F.expr(f"bucket_us div {us_per}") * us_per).alias("bucket_us")
            )
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sv").alias("sv"),
            )
            .select(
                F.lit(label).alias("granularity"),
                "bucket_us",
                "n_events",
                F.col("sv").cast("double").alias("sum_value"),
            )
        )

    minute_out = minute.select(
        F.lit("minute").alias("granularity"),
        "bucket_us",
        "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )
    return minute_out.unionAll(_roll("hour", _US_PER_HOUR)).unionAll(
        _roll("day", _US_PER_DAY)
    )


PATHS_TOPK = 15


@register(
    "q_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type, 1) OVER w AS p1,
             LAG(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           COUNT(*) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT {PATHS_TOPK}
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths: the most frequent 3-step ordered event-type
    sequences across all user journeys (the product-analytics "path
    explorer" statistic). Two lag windows build the trigram; the unique
    (ts, event_id) order pins it cross-engine.

    Shape: both lags ride ONE user_id Exchange; the path aggregate
    reduces to at most |event_types|^3 rows (map-side combine does
    nearly all of it) and the top-K is TakeOrderedAndProject — no
    global sort at any scale."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).where(F.col("p2").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(PATHS_TOPK)
    )


_CDC_INSERT_OFFSET = 1_000_000


@register(
    "q_cdc_merge",
    oracle=f"""
    WITH delta AS (
      SELECT CASE WHEN o_orderstatus = 'P'
                  THEN o_custkey + {_CDC_INSERT_OFFSET}
                  ELSE o_custkey END AS key,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS new_bal
      FROM orders GROUP BY 1),
    merged AS (
      SELECT COALESCE(c.c_custkey, d.key) AS c_custkey,
             CASE WHEN d.key IS NULL THEN c.c_acctbal
                  ELSE CAST(CAST(d.new_bal AS VARCHAR) AS DOUBLE) END AS c_acctbal,
             c.c_mktsegment,
             CASE WHEN c.c_custkey IS NULL THEN 'insert'
                  WHEN d.key IS NULL THEN 'keep'
                  ELSE 'update' END AS op
      FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.key)
    SELECT * FROM merged
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (lakehouse upsert) semantics as a full-outer join: a
    change batch derived from orders (decimal-exact new balances; 'P'
    status rows offset into fresh keys to exercise the insert arm) is
    merged into the customer snapshot — matched rows update, unmatched
    delta rows insert, untouched snapshot rows pass through, and every
    row is tagged with its merge op. This is the rewrite Delta/Iceberg
    MERGE performs under the hood.

    Shape at 100 TB: the delta aggregates first (one shuffle over the
    change volume, usually tiny vs the snapshot), then one equi-join —
    broadcast when the delta fits, hash otherwise. Copy-on-write file
    rewriting is the sink's concern (sources/sinks.py); the dataflow
    here is the whole query-side cost."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    delta = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.when(
                F.col("o_orderstatus") == "P",
                F.col("o_custkey") + _CDC_INSERT_OFFSET,
            )
            .otherwise(F.col("o_custkey"))
            .alias("key")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("new_bal"))
    )
    j = c.join(delta, c.c_custkey == delta.key, "full_outer")
    return j.select(
        F.coalesce(c.c_custkey, delta.key).alias("c_custkey"),
        F.when(delta.key.isNull(), c.c_acctbal)
        .otherwise(delta.new_bal.cast("double"))
        .alias("c_acctbal"),
        "c_mktsegment",
        F.when(c.c_custkey.isNull(), "insert")
        .when(delta.key.isNull(), "keep")
        .otherwise("update")
        .alias("op"),
    )


def _median_sql(src: str, g: str, v: str, out: str) -> str:
    """Composable CTE block computing the integer-exact interpolated median
    of ``v`` per ``g`` over relation ``src`` (the q_agg_percentile rank
    arithmetic specialized to p50). Emits CTEs ``{out}_r`` / ``{out}``;
    ``{out}`` has columns (g, n_{out}, {out})."""
    return f"""{out}_r AS (
      SELECT {g} AS g, {v} AS v,
             ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY {v}) - 1 AS i,
             COUNT(*) OVER (PARTITION BY {g}) AS n
      FROM {src}),
    {out} AS (
      SELECT g, MAX(n) AS n_{out},
             MAX(CASE WHEN i = (n - 1) // 2 THEN v END)
             + (MAX(CASE WHEN i = (n - 1) // 2 + CASE WHEN ((n - 1) * 50) % 100 > 0
                                                       THEN 1 ELSE 0 END
                     THEN v END)
                - MAX(CASE WHEN i = (n - 1) // 2 THEN v END))
               * (CAST(((n - 1) * 50) % 100 AS DOUBLE) / 100.0) AS {out}
      FROM {out}_r GROUP BY g, n)"""


_MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma for normals
_MAD_Z = 3.0


def _robust_stats_kernel(t):
    """q_robust_stats' exact tier for one group, as one Arrow table in
    and one row out (g, n, median, mad, n_outliers): one sort of the
    values gives the median, one sort of ``|v - median|`` gives the MAD,
    and the robust-z outlier count (dev > 3 * (1.4826 * mad)) reads the
    same sorted deviations. Interpolation and the threshold use the IEEE
    operation order of the window tier, so every value is bit-equal."""
    import numpy as np
    import pyarrow as pa

    xs = np.sort(t.column("v").to_numpy())
    med = _interp_pct_np(xs, 50)
    d = np.sort(np.abs(xs - med))
    mad = _interp_pct_np(d, 50)
    n_out = int((d > _MAD_Z * (_MAD_K * mad)).sum())
    return pa.table({
        "g": t.column("g")[:1], "n": [len(xs)], "median": [med], "mad": [mad],
        "n_outliers": [n_out],
    })


_ROBUST_SCHEMA = "g string, n long, median double, mad double, n_outliers long"


def _robust_stats_window_tier(li: DataFrame) -> DataFrame:
    """The r8 window tier of q_robust_stats' exact columns, the
    oversized-group fallback (and the tested reference twin) of
    _robust_stats_kernel: same rows, schema _ROBUST_SCHEMA."""
    med = _spark_pcts(li, [50]).select("g", "n", F.col("p50").alias("median"))
    devs = li.join(F.broadcast(med), li.g == med.g).select(
        li.g.alias("g"), F.abs(li.v - F.col("median")).alias("v")
    )
    with cached(devs) as devs:
        mad = _spark_pcts(devs, [50]).select("g", F.col("p50").alias("mad"))
        thresh = F.lit(_MAD_Z) * (F.lit(_MAD_K) * F.col("mad"))
        outl = (
            devs.join(F.broadcast(mad), "g")
            .where(F.col("v") > thresh)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_outliers"))
        )
        return (
            med.join(mad, "g")
            .join(outl, "g", "left")
            .select(
                "g", "n", "median", "mad",
                F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_robust_stats",
    oracle=f"""
    WITH vals AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
    {_median_sql('vals', 'g', 'v', 'med')},
    devs AS (
      SELECT vals.g AS g, ABS(vals.v - med.med) AS v
      FROM vals JOIN med USING (g)),
    {_median_sql('devs', 'g', 'v', 'mad')}
    SELECT med.g AS l_returnflag, n_med AS n,
           med.med AS median, mad.mad AS mad,
           (SELECT COUNT(*) FROM devs d
            WHERE d.g = med.g AND d.v > {_MAD_Z} * ({_MAD_K} * mad.mad))
             AS n_outliers,
           TRUE AS median_ok, TRUE AS mad_ok
    FROM med JOIN mad USING (g)
    """,
)
def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics per group: exact interpolated median, MAD
    (median absolute deviation), and the robust-z outlier count
    (|x - med| > 3 * 1.4826 * MAD) — the outlier detector that, unlike
    q_anomaly's z-score, is not itself corrupted by the outliers it
    hunts.

    Determinism: both medians use q_agg_percentile's integer-exact rank
    arithmetic (shared _median_sql / _spark_pcts twins); deviations and
    the outlier threshold are fixed per-row IEEE expression trees.

    Two tiers in one query (the q_agg_percentile pattern, VERDICT r04
    #3): the exact tier is the AUDIT path — exact per-group order
    statistics do not scale past samples — while the always-on
    production tier recomputes median and MAD with approx_percentile
    (GK sketch: map-side mergeable, no per-group sort anywhere). The
    sketch values can't cross-engine-hash, so the hash-checked columns
    are the within-tolerance booleans (median_ok / mad_ok, 0.5%
    relative + 1.0 absolute) that the oracle asserts as literal TRUE —
    sketch drift flips a hash-checked column.

    Shape (guide §1.2/§4.2): the exact tier is one
    ``group_local.cell_local`` pass (_robust_stats_kernel): numpy sorts
    each bounded group once for the median, sorts the deviations once for
    the MAD, and counts the outliers over the same sorted deviations. The
    approx tier is two hash aggregates over the same pinned rows
    (sketches merge map-side), no sort, no window — the plan that runs at
    100 TB. A group over ``BOUNDS["order_stats"]`` rows sends every group
    to the r8 window tier (_robust_stats_window_tier), which sorts with
    spilling; the approx tier is the same on both paths."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
    )
    exact, li = group_local.cell_local(
        li, "g", "order_stats", _robust_stats_kernel, _ROBUST_SCHEMA,
        _robust_stats_window_tier,
    )
    amed = li.groupBy("g").agg(F.percentile_approx("v", 0.5, 10000).alias("amed"))
    av = F.abs(F.col("v") - F.col("amed"))
    amad = li.join(F.broadcast(amed), "g").groupBy("g").agg(
        F.percentile_approx(av, 0.5, 10000).alias("amad")
    )

    def _close(approx, exact):
        # GK rank error <= n/10000 translates to a value error bounded by
        # the local quantile slope — 0.5% relative (+1.0 absolute floor)
        # holds with orders of magnitude of headroom at every fixture SF
        # while still failing on a broken sketch or a wrong deviation pass.
        return F.abs(approx - exact) <= (F.lit(0.005) * F.abs(exact) + F.lit(1.0))

    return (
        exact.join(amed, "g")
        .join(amad, "g")
        .select(
            F.col("g").alias("l_returnflag"),
            "n",
            "median",
            "mad",
            "n_outliers",
            _close(F.col("amed"), F.col("median")).alias("median_ok"),
            _close(F.col("amad"), F.col("mad")).alias("mad_ok"),
        )
        .localCheckpoint(eager=True)
    )


@register(
    "q_dq_referential",
    oracle="""
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_rows,
           COUNT(*) FILTER (o.o_orderkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer', COUNT(*),
           COUNT(*) FILTER (c.c_custkey IS NULL)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->part', COUNT(*),
           COUNT(*) FILTER (p.p_partkey IS NULL)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer->nation', COUNT(*),
           COUNT(*) FILTER (n.n_nationkey IS NULL)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign key of
    the star schema (the constraint validation a lakehouse pipeline runs
    before publishing a snapshot — complements q_dq_profile's
    single-table checks).

    Shape: each FK check is a left join counting nulls — dims broadcast,
    the one big-big edge (lineitem->orders) shuffles on the key it would
    shuffle on anyway; output is one row per FK regardless of volume. At
    100 TB run the checks in one pass per fact table (Catalyst shares the
    scan across the two lineitem checks here)."""

    def check(fact: DataFrame, fk: str, dim: DataFrame, pk: str, name: str) -> DataFrame:
        j = fact.join(dim, fact[fk] == dim[pk], "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(dim[pk].isNull(), 1)).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    n = table(spark, sf_dir, "nation")
    return (
        check(li, "l_orderkey", o.select("o_orderkey"), "o_orderkey", "lineitem->orders")
        .unionAll(check(o, "o_custkey", c.select("c_custkey"), "c_custkey", "orders->customer"))
        .unionAll(check(li, "l_partkey", p.select("p_partkey"), "p_partkey", "lineitem->part"))
        .unionAll(check(c, "c_nationkey", n.select("n_nationkey"), "n_nationkey", "customer->nation"))
    )


# ---------------------------------------------------------------------------
# dq_freshness — per-stream staleness audit (round-12 draft tier): the
# data-quality family checks SHAPE (q_dq_profile) and INTEGRITY
# (q_dq_referential) but nothing yet checks ARRIVAL — the first question
# an on-call asks of a feed ("is the purchase stream still landing?").
# Per event type: volume, first/last event time, lag behind the freshest
# stream, and a stale flag at a RATE threshold (share of the observed
# corpus span, not an absolute hour count — the itemset scale-invariance
# lesson: an absolute cutoff silently changes meaning with fixture
# span).
# ---------------------------------------------------------------------------

DQ_STALE_PPM = 50_000  # stale when a stream's lag exceeds 5% of the span


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dq_freshness: per event_type — event count, first/last event
    epoch (microseconds, the asof/stream epoch-bigint contract), the
    lag behind the globally freshest event, the lag as exact-ppm share
    of the observed corpus span, and the stale flag at DQ_STALE_PPM.

    Determinism: epoch bigints end to end; the share divides
    millisecond-floored lag by millisecond-floored span (identical
    `div` truncation in both engines — microsecond numerators would
    overflow BIGINT at 1e6 scaling over multi-year spans), span
    GREATEST-guarded for the single-instant corpus.

    Shape at 100 TB: ONE map-side-combinable per-type aggregate over a
    two-column projection is the only full-volume work; the global
    max/min and every derived column are windows over the bounded
    |event_type| rows. Join-free, hint-free, sort only on the bounded
    output."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("tus")
    )
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("tus").alias("first_us"),
        F.max("tus").alias("last_us"),
    )
    w = W.partitionBy()
    shaped = per.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "first_us",
        "last_us",
        (F.max("last_us").over(w) - F.col("last_us")).alias("lag_us"),
        F.greatest(
            F.max("last_us").over(w) - F.min("first_us").over(w), F.lit(1)
        ).alias("span_us"),
    )
    # the share is computed ONCE and the stale flag derives from the
    # column — the two cannot desynchronize (the _md5_60 drift rule)
    return (
        shaped.select(
            "event_type",
            "n_events",
            "first_us",
            "last_us",
            F.col("lag_us").cast("long").alias("lag_us"),
            F.expr("(lag_us div 1000) * 1000000 div greatest(span_us div 1000, 1)")
            .cast("long")
            .alias("lag_share_ppm"),
        )
        .withColumn("stale", F.col("lag_share_ppm") > DQ_STALE_PPM)
        .orderBy("event_type")
    )


DQ_FRESHNESS_ORACLE = f"""
    WITH per AS (
      SELECT event_type, COUNT(*) AS n_events,
             MIN(epoch_us(ts)) AS first_us,
             MAX(epoch_us(ts)) AS last_us
      FROM events GROUP BY event_type),
    shaped AS (
      SELECT event_type, n_events, first_us, last_us,
             MAX(last_us) OVER () - last_us AS lag_us,
             GREATEST(MAX(last_us) OVER () - MIN(first_us) OVER (), 1)
               AS span_us
      FROM per),
    scored AS (
      SELECT event_type,
             CAST(n_events AS BIGINT) AS n_events,
             CAST(first_us AS BIGINT) AS first_us,
             CAST(last_us AS BIGINT) AS last_us,
             CAST(lag_us AS BIGINT) AS lag_us,
             CAST((lag_us // 1000) * 1000000 // GREATEST(span_us // 1000, 1)
                  AS BIGINT) AS lag_share_ppm
      FROM shaped)
    SELECT *, lag_share_ppm > {DQ_STALE_PPM} AS stale
    FROM scored ORDER BY event_type
    """
