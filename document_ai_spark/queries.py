"""Query registry: every operator from SURVEY.md §2 as a (Spark callable,
DuckDB oracle SQL) pair over the driver testdata tables.

Cross-engine exactness rules (so the driver's value-hash matches):
  - Money aggregates use exact DECIMAL(18,2) arithmetic, cast to DOUBLE at
    the end — bit-identical in Spark and DuckDB (inputs have <=2 decimals).
  - Averages are computed as CAST(exact_sum AS DOUBLE)/count, never avg().
  - Float-valued scores (cosine, jaccard, cumsum) are ROUNDed to 6 dp in
    BOTH engines, and any ranking happens on the rounded value.
  - Arrays are emitted as ','-joined strings; timestamps as unix micros.
  - Every computed column is aliased identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from .session import local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # epoch conversions (unix_micros over NTZ->LTZ casts) must agree with
    # the DuckDB oracle's epoch_us regardless of who built the session —
    # pin the runtime-settable session timezone on every table access
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


# --------------------------------------------------------------------------
# §2.4 A1/A3 + §2.6 — TPC-H Q1-style pricing summary (hash agg, partial+final)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    g = (
        l.filter(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias(
                "sum_base_price"
            ),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.withColumn(
        "avg_qty", F.col("sum_qty") / F.col("count_order")
    ).withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_price
FROM lineitem WHERE l_quantity < 50
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# §2.3 J1 — multi-way equi-join with broadcast dims (TPC-H Q5 style)
# --------------------------------------------------------------------------

def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# §2.5 W1 / §2.6 O1 — rank-1 per group by ordered window
# --------------------------------------------------------------------------

def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("top_orderkey"),
            F.col("o_totalprice").alias("top_totalprice"),
        )
    )


SQL_TOP_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_totalprice
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) rn
      FROM orders) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# §2.5 W2 — gap detection between ordered rows (session boundaries)
# --------------------------------------------------------------------------

SESSION_GAP_US = 1800 * 1_000_000


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_session").alias("n_sessions"),
        )
    )


SQL_USER_SESSIONS = f"""
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN prev_us IS NULL
                   OR epoch_us(ts) - prev_us > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM (SELECT user_id, ts, event_id,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id)
                   AS prev_us
        FROM events))
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# §2.3 J6 — as-of join: latest prior 'view' for each 'click', per user
# --------------------------------------------------------------------------

def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp_ltz")))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    return (
        e.withColumn("last_view_us", F.last(view_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts_us", "last_view_us")
    )


SQL_ASOF_LAST_VIEW = """
SELECT event_id, user_id, ts_us, last_view_us FROM (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_view_us
  FROM events)
WHERE event_type = 'click'
"""


# --------------------------------------------------------------------------
# §2.3 J3 / §2.8 X2 — fuzzy string theta-join (levenshtein)
# --------------------------------------------------------------------------

def q_fuzzy_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_name").alias("name_b"))
    return (
        a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 5)
        .select("name_a", "name_b", "dist")
    )


SQL_FUZZY_NATION_PAIRS = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
FROM nation a JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 5
"""


# --------------------------------------------------------------------------
# §2.3 J4/J8 — substring-containment theta join against a keyword dimension
# --------------------------------------------------------------------------

_KEYWORDS = ["spark", "join", "window", "stream", "hash"]


def q_keyword_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    kw = local_frame(spark, [(k,) for k in _KEYWORDS], "kw string")
    return (
        d.crossJoin(F.broadcast(kw))
        .filter(F.col("text").contains(F.col("kw")))
        .groupBy("kw")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_KEYWORD_CONTAINMENT = """
SELECT kw, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
JOIN (SELECT unnest(['spark','join','window','stream','hash']) AS kw) k
  ON contains(text, kw)
GROUP BY kw
"""


# --------------------------------------------------------------------------
# §2.4 A1 / §2.3 J8 — confusion matrix via conditional-count aggregation
# --------------------------------------------------------------------------

def q_confusion_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    p = F.col("n_chars") > 300
    t = F.length("text") > 250
    return d.groupBy("lang").agg(
        F.sum(F.when(p & t, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(p & ~t, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~p & ~t, 1).otherwise(0)).alias("tn"),
        F.sum(F.when(~p & t, 1).otherwise(0)).alias("fn"),
    )


SQL_CONFUSION_BY_LANG = """
SELECT lang,
  CAST(SUM(CASE WHEN n_chars > 300 AND length(text) > 250 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(SUM(CASE WHEN n_chars > 300 AND NOT length(text) > 250 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(SUM(CASE WHEN NOT n_chars > 300 AND NOT length(text) > 250 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
  CAST(SUM(CASE WHEN NOT n_chars > 300 AND length(text) > 250 THEN 1 ELSE 0 END) AS BIGINT) AS fn
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# §2.4 A2 — GROUPING SETS: one pass over several dimensions
# --------------------------------------------------------------------------

def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    e.withColumn("user_bucket", F.col("user_id") % 10).createOrReplaceTempView(
        "_ev_gs"
    )
    return spark.sql(
        """
        SELECT event_type, user_bucket,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS avg_value,
               COUNT(*) AS n
        FROM _ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """
    )


SQL_GROUPING_SETS_EVENTS = """
SELECT event_type, user_id % 10 AS user_bucket,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_value,
       COUNT(*) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
"""


# --------------------------------------------------------------------------
# §2.4 A5/A6/A8 — arg-min per group (min_by with struct tie-break)
# --------------------------------------------------------------------------

def q_cheapest_supplier_per_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").withColumn(
        "bucket", F.col("l_partkey") % 100
    )
    w = W.partitionBy("bucket").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        l.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "bucket",
            F.col("l_suppkey").alias("cheapest_suppkey"),
            F.col("l_extendedprice").alias("min_price"),
        )
    )


SQL_CHEAPEST_SUPPLIER_PER_BUCKET = """
SELECT bucket, l_suppkey AS cheapest_suppkey, l_extendedprice AS min_price
FROM (SELECT l_partkey % 100 AS bucket, l_suppkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_partkey % 100
                                ORDER BY l_extendedprice, l_suppkey,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# §2.7 U1/U2/U3 — union / except / distinct set algebra
# --------------------------------------------------------------------------

def q_setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("c")
    )
    failed = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c")
    )
    return (
        urgent.union(high).distinct().exceptAll(failed.distinct())
        .select(F.col("c").alias("c_custkey"))
    )


SQL_SETOPS_CUSTOMERS = """
SELECT c AS c_custkey FROM (
  SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION
  SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '2-HIGH'
  EXCEPT
  SELECT DISTINCT o_custkey AS c FROM orders WHERE o_orderstatus = 'F')
"""


# --------------------------------------------------------------------------
# §2.8 X13/X17 + F5 — JSON parse with sentinel/default handling
# --------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn(
        "k", F.from_json("props", T.StructType(
            [T.StructField("k", T.IntegerType())]
        ))["k"],
    )
    return (
        parsed.withColumn("k_filled", F.coalesce("k", F.lit(-1)))
        .filter(F.col("k_filled") >= 50)
        .select("event_id", "k_filled")
    )


SQL_JSON_PROPS = """
SELECT event_id,
       COALESCE(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT), -1)
           AS k_filled
FROM events
WHERE COALESCE(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT), -1) >= 50
"""


# --------------------------------------------------------------------------
# §2.6 O4 — top-k by distance (1-D nearest)
# --------------------------------------------------------------------------

def q_nearest_price_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn(
            "dist",
            F.round(F.abs(F.col("p_retailprice") - F.lit(1000.0)), 2),
        )
        .orderBy("dist", "p_partkey")
        .limit(15)
        .select("p_partkey", "p_retailprice", "dist")
    )


SQL_NEAREST_PRICE_PARTS = """
SELECT p_partkey, p_retailprice, round(abs(p_retailprice - 1000.0), 2) AS dist
FROM part
ORDER BY round(abs(p_retailprice - 1000.0), 2), p_partkey
LIMIT 15
"""


# --------------------------------------------------------------------------
# §2.4 distinct agg — count distinct per group
# --------------------------------------------------------------------------

def q_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


SQL_DISTINCT_SUPPLIERS = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# §2.5 W5 — running (cumulative) sum per user
# --------------------------------------------------------------------------

def q_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp_ltz")))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.withColumn(
        "running_value",
        (
            F.sum(_dec("value")).over(w)
        ).cast("double"),
    ).select("event_id", "user_id", "running_value")


SQL_RUNNING_VALUE = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_value
FROM events
"""

# --------------------------------------------------------------------------
# §2.3 J2 — spatial-style theta join: nearest 'click' after each 'error'
# (same user, value-overlap gate, argmin time distance — the relational form
# of the reference's "find next right word", document_parsing.py:132-198)
# --------------------------------------------------------------------------

def q_nearest_click_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("u"),
        F.col("ts_us").alias("err_us"),
        F.col("value").alias("err_value"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts_us").alias("click_us"),
        F.col("value").alias("click_value"),
    )
    joined = errors.join(
        clicks,
        (F.col("u") == F.col("cu"))
        & (F.col("click_us") > F.col("err_us"))  # "next right" gate
        & (F.abs(F.col("click_value") - F.col("err_value")) < 20),  # overlap
    ).withColumn("dist_us", F.col("click_us") - F.col("err_us"))
    w = W.partitionBy("error_id").orderBy("dist_us", "click_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("error_id", "click_id", "dist_us")
    )


SQL_NEAREST_CLICK_AFTER_ERROR = """
SELECT error_id, click_id, dist_us FROM (
  SELECT e.event_id AS error_id, c.event_id AS click_id,
         epoch_us(c.ts) - epoch_us(e.ts) AS dist_us,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY epoch_us(c.ts) - epoch_us(e.ts),
                                     c.event_id) AS rn
  FROM events e JOIN events c
    ON e.user_id = c.user_id
   AND e.event_type = 'error' AND c.event_type = 'click'
   AND epoch_us(c.ts) > epoch_us(e.ts)
   AND abs(c.value - e.value) < 20)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# §2.3 J7 — left join with null defaults (coalesce)
# --------------------------------------------------------------------------

def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("t"),
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.coalesce("t", F.lit(0.0)).alias("total_spend"),
    )


SQL_CUSTOMER_ORDER_COUNTS = """
SELECT c_custkey,
       COALESCE(n, 0) AS n_orders,
       COALESCE(t, 0.0) AS total_spend
FROM customer LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t
  FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
"""


# --------------------------------------------------------------------------
# §2.2 F7/F8 + §2.7 U3 — quality gate (left-semi) + exclusion (left-anti)
# --------------------------------------------------------------------------

def q_semi_anti_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    open_orders = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    gated = c.join(
        open_orders, c.c_custkey == open_orders.o_custkey, "left_semi"
    )
    exclusions = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    kept = gated.join(exclusions, "c_custkey", "left_anti")
    return kept.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


SQL_SEMI_ANTI_GATE = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
  AND c_custkey NOT IN (SELECT c_custkey FROM customer
                        WHERE c_custkey % 97 = 0)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# §2.4 A9 — set-collect (sorted, joined for engine portability)
# --------------------------------------------------------------------------

def q_collect_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderstatus"))
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_COLLECT_STATUSES = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
           AS statuses,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""

# --------------------------------------------------------------------------
# Engine addition (SURVEY.md §2.4 note): approximate distinct for dedup QA
# at 10^12 scale — HLL sketch vs exact, per group. Oracle-checkable (r3):
# the exact column is plain SQL; the sketch has no cross-engine twin, so
# it is gated as a BOUNDED-ERROR flag — the Spark side asserts
# |approx - exact| <= 5% * exact (rsd=0.01 -> ~5 sigma headroom) and the
# oracle emits literal TRUE, so a drifting sketch hash-fails the driver
# row instead of passing vacuously.
# --------------------------------------------------------------------------

APPROX_DISTINCT_REL_ERR = 0.05


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * APPROX_DISTINCT_REL_ERR
        ).alias("approx_within_5pct"),
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# §2.8 X7 analog — interval union (merge overlapping spans/boxes): flag a
# new group when an interval starts after the running max end, then
# aggregate per merged group. Window + cumulative max, no UDF.
# --------------------------------------------------------------------------

INTERVAL_LEN_US = 600 * 1_000_000  # each event spans [ts, ts + 10 min)


def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "s", F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    ).withColumn("e", F.col("s") + INTERVAL_LEN_US)
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    grouped = e.withColumn(
        "new_grp",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("new_grp").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return grouped.groupBy("user_id", "grp").agg(
        F.min("s").alias("merged_start"),
        F.max("e").alias("merged_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id", "merged_start", "merged_end", "n_events",
        (F.col("merged_end") - F.col("merged_start")).alias("covered_us"),
    )


SQL_INTERVAL_UNION = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {INTERVAL_LEN_US} AS e
  FROM events),
flagged AS (
  SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
              AS new_grp
  FROM (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_max
        FROM iv)),
grp AS (
  SELECT *, SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS grp
  FROM flagged)
SELECT user_id, MIN(s) AS merged_start, MAX(e) AS merged_end,
       COUNT(*) AS n_events,
       MAX(e) - MIN(s) AS covered_us
FROM grp GROUP BY user_id, grp
"""


# --------------------------------------------------------------------------
# Pivot (wide aggregation) — fixed column set so both engines agree
# --------------------------------------------------------------------------

def q_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


SQL_PIVOT_ORDER_STATUS = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_p
FROM orders GROUP BY o_orderpriority
"""

# --------------------------------------------------------------------------
# Correlated-subquery shape (TPC-H Q17 style): lineitems below half their
# part's average quantity. The DataFrame side decorrelates explicitly
# (per-part aggregate + join); the oracle uses the correlated form.
# --------------------------------------------------------------------------

def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        .alias("avg_qty")
    )
    j = l.join(per_part, l.l_partkey == per_part.pk).filter(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return j.agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       COUNT(*) AS n_items
FROM lineitem l
WHERE l_quantity < 0.5 * (
    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM lineitem WHERE l_partkey = l.l_partkey)
"""


# --------------------------------------------------------------------------
# Native session_window sessionization (Spark's built-in stateful window in
# batch mode) cross-checked against the classic gap-island SQL form.
# Spark semantics (probed empirically at the exact boundary, r3): an event
# at exactly last + gap still MERGES into the open session — windows
# [ts, ts+gap) merge when next.start <= current.end — so the oracle starts
# a new session only when diff > gap, same as q_user_sessions' lag form.
# --------------------------------------------------------------------------

def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        e.groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_micros(
                F.col("session_window.start").cast("timestamp_ltz")
            ).alias("session_start_us"),
            F.unix_micros(F.col("last_ts").cast("timestamp_ltz")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


SQL_SESSION_WINDOW_AGG = f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  -- cumulative-sum order must repeat the marked CTE's (ts, event_id)
  -- tiebreak: with duplicate timestamps at a gap boundary, ordering by
  -- ts_us alone can assign the tied row to the wrong session
  SELECT user_id, ts_us,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked)
SELECT user_id, MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us, COUNT(*) AS n_events
FROM islands GROUP BY user_id, session_no
"""


# --------------------------------------------------------------------------
# TPC-H Q2-style correlated min: for each small part, THE cheapest supplier
# by average extended price (rank on the 6dp-rounded value, deterministic
# suppkey tie-break — an equality join against the correlated MIN would be
# float-fragile across engines).
# --------------------------------------------------------------------------

def q_min_cost_supplier_per_part(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    per_ps = (
        l.join(F.broadcast(p.select("p_partkey")),
               l.l_partkey == F.col("p_partkey"))
        .groupBy("p_partkey", "l_suppkey")
        .agg(F.round(F.avg("l_extendedprice"), 6).alias("avg_cost"))
    )
    w = W.partitionBy("p_partkey").orderBy("avg_cost", "l_suppkey")
    return (
        per_ps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", F.col("l_suppkey").alias("s_suppkey"),
                "avg_cost")
    )


SQL_MIN_COST_SUPPLIER_PER_PART = """
SELECT p_partkey, l_suppkey AS s_suppkey, avg_cost
FROM (
  SELECT p.p_partkey, l.l_suppkey,
         round(avg(l.l_extendedprice), 6) AS avg_cost
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size < 10
  GROUP BY p.p_partkey, l.l_suppkey)
QUALIFY row_number() OVER (PARTITION BY p_partkey
                           ORDER BY avg_cost, l_suppkey) = 1
"""


# --------------------------------------------------------------------------
# TPC-H Q20-style nested-IN: suppliers that shipped more than DOM_SHARE of
# some part's total quantity (quantities are integral doubles, so the
# integer-multiplier compare is exact in both engines). 1/5 keeps the
# result non-vacuous at every SF (supplier fan-out per part grows with
# scale, so shares shrink; >50% selects nothing beyond sf0.001).
# --------------------------------------------------------------------------

def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # ONE lineitem scan: the per-part total is a window sum over the
    # per-(part,supplier) aggregate — a second groupBy would re-scan the
    # fact table (measured 3 scans before)
    per_ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("ps_qty")
    )
    per_ps = per_ps.withColumn(
        "p_qty", F.sum("ps_qty").over(W.partitionBy("l_partkey"))
    )
    dom = (
        per_ps.filter(F.col("ps_qty") * 5 > F.col("p_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dom, s.s_suppkey == dom.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


SQL_DOMINANT_SUPPLIERS = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS ps_qty
        FROM lineitem GROUP BY l_partkey, l_suppkey) ps
  JOIN (SELECT l_partkey AS pk, SUM(l_quantity) AS p_qty
        FROM lineitem GROUP BY l_partkey) p
    ON ps.l_partkey = p.pk
  WHERE ps.ps_qty * 5 > p.p_qty)
"""
