"""Differential query registry — the engine's correctness surface.

Each entry implements one (or a cluster of) operator(s) from the
SURVEY.md §2 inventory as an idiomatic Spark DataFrame plan, paired
with an ANSI-SQL oracle that DuckDB runs over the same parquet
tables. The driver compares row count + schema + order-insensitive
value hash, so every query here follows the engine's cross-engine
determinism rules:

- Money/metric aggregation runs in DecimalType (exact) and is cast to
  double only at the output edge, so sums are bit-identical across
  engines regardless of accumulation order.
- Ratios divide doubles that were derived from exact decimals — IEEE
  division of identical inputs is deterministic.
- Percentiles use only binary-fraction probabilities (.25/.5/.75) on
  integer-valued measures so linear interpolation is exact.
- Every ORDER BY ... LIMIT has a unique tiebreak column.
- Pseudo-random ordering (W3/J10) uses md5 hex strings — identical in
  both engines (the production operator default is xxhash64, which is
  faster but engine-specific; see functions.scalars.deterministic_order_key).

Naming: q_<operator-id>_<slug> keyed to SURVEY.md §2 row ids.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docker_etl_spark.functions.scalars import safe_divide
from docker_etl_spark.operators.aggregates import (
    conditional_counts,
    elementwise_vector_sum,
    group_percentiles,
    ordered_limited_collect,
)
from docker_etl_spark.operators.corpus import split_threshold_hexes
from docker_etl_spark.operators.dedupe import dedupe_latest_per_key
from docker_etl_spark.operators.joins import (
    anti_join,
    date_spine,
    range_join_active_at_bucketed,
    semi_join,
    stratified_sampling_join,
)
from docker_etl_spark.operators.windows import lag_features, share_of_total
from docker_etl_spark.sources.io import load_table

def load_docs_spread(spark, sf_dir):
    """documents.parquet arrives as ONE file = one input partition;
    repartition to defaultParallelism before compute-heavy per-row
    text kernels so all cores work (operators/_util.spread_for_compute
    rationale; measured 11x on x14 at sf0.1)."""
    from docker_etl_spark.operators._util import spread_for_compute

    return spread_for_compute(load_table(spark, sf_dir, "documents"))


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(c: Column | str) -> Column:
    """Exact money cast — see module docstring determinism rules."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(12,2)")


def _dbl(c: Column) -> Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# A1/A2/P4 — pricing summary (hash aggregate with conditional + exact math)
# ---------------------------------------------------------------------------


@register(
    "a01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped hash aggregate (A1) with derived measures.

    Operators: A1 (grouped SUM/COUNT/AVG), P4 (pushed date predicate).
    Scale notes: partial aggregation map-side; the date filter pushes
    to the parquet scan (PushedFilters in explain).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price * (1 + _dec("l_tax"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(_dec("l_quantity"))).alias("sum_qty"),
            _dbl(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
            _dbl(F.sum(disc_price)).alias("sum_disc_price"),
            _dbl(F.sum(charge)).alias("sum_charge"),
            (_dbl(F.sum(_dec("l_quantity"))) / n).alias("avg_qty"),
            (_dbl(F.sum(_dec("l_extendedprice"))) / n).alias("avg_price"),
            (_dbl(F.sum(_dec("l_discount"))) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1-J3/A1 — star-schema revenue rollup (flagship)
# ---------------------------------------------------------------------------


@register(
    "j01_star_revenue",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j01_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema revenue by region/nation (J1 inner equi-joins, A1).

    Scale notes: supplier/nation/region are dimensions — broadcast
    them so the fact table never shuffles for the join; the only
    shuffle is the final small aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(_dbl(F.sum(revenue)).alias("revenue"), F.count("*").alias("n_items"))
    )


# ---------------------------------------------------------------------------
# O1/O2 — global top-k with deterministic tiebreak
# ---------------------------------------------------------------------------


@register(
    "o01_top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def o01_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by revenue (O1 global sort + limit, J1).

    Scale notes: Spark plans TakeOrderedAndProject — a per-partition
    top-k then a driver merge of k·partitions rows; no global sort
    materialization.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(o["o_orderkey"], F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(_dbl(F.sum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# W1 — latest-per-key dedup
# ---------------------------------------------------------------------------


@register(
    "w01_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def w01_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest event per user (W1 QUALIFY ROW_NUMBER()=1)."""
    ev = load_table(spark, sf_dir, "events")
    out = dedupe_latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# J11 — min-by dedupe (first event per user)
# ---------------------------------------------------------------------------


@register(
    "j11_first_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1
    """,
)
def j11_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-by dedupe (J11): the row holding MIN(ts) per user."""
    ev = load_table(spark, sf_dir, "events")
    out = dedupe_latest_per_key(
        ev, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    return out.select("user_id", "event_id", "event_type")


# ---------------------------------------------------------------------------
# W4 — lag features on a daily series
# ---------------------------------------------------------------------------

_DAILY_CTE = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2
    )
"""


@register(
    "w04_lag_features",
    oracle=_DAILY_CTE
    + """
    SELECT day, event_type, value_sum,
           LAG(value_sum, 1) OVER w AS lag_1,
           LAG(value_sum, 7) OVER w AS lag_7,
           value_sum / NULLIF(LAG(value_sum, 1) OVER w, 0) AS dod,
           value_sum / NULLIF(LAG(value_sum, 7) OVER w, 0) AS wow
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def w04_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search-alert-style lag/ratio features (W4) on daily sums."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        )
        .agg(_dbl(F.sum(_dec("value"))).alias("value_sum"))
    )
    out = lag_features(
        daily, ["event_type"], "day", "value_sum", lags=(1, 7), with_ratios=False
    )
    return out.select(
        "day",
        "event_type",
        "value_sum",
        "lag_1",
        "lag_7",
        safe_divide(F.col("value_sum"), F.nullif(F.col("lag_1"), F.lit(0.0))).alias("dod"),
        safe_divide(F.col("value_sum"), F.nullif(F.col("lag_7"), F.lit(0.0))).alias("wow"),
    )


# ---------------------------------------------------------------------------
# W5 — share of total
# ---------------------------------------------------------------------------


@register(
    "w05_share_of_day",
    oracle="""
    SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
           value / CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY CAST(date_trunc('day', ts) AS DATE)) AS DOUBLE) AS pcnt_value
    FROM events
    """,
)
def w05_share_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event's share of its day's total value (W5)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    w = Window.partitionBy("day")
    return ev.select(
        "event_id",
        "day",
        "value",
        (F.col("value") / _dbl(F.sum(_dec("value")).over(w))).alias("pcnt_value"),
    )


# ---------------------------------------------------------------------------
# W6 — trailing moving average (exact accumulation)
# ---------------------------------------------------------------------------


@register(
    "w06_moving_average",
    oracle=_DAILY_CTE
    + """
    SELECT day, event_type, value_sum,
           CAST(SUM(CAST(value_sum AS DECIMAL(18,6))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS mov_avg_7
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def w06_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing mean of daily sums (W6), decimal-exact frame sum."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"), "event_type")
        .agg(_dbl(F.sum(_dec("value"))).alias("value_sum"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    mov = _dbl(F.sum(F.col("value_sum").cast("decimal(18,6)")).over(w)) / F.count("*").over(w)
    return daily.select("day", "event_type", "value_sum", mov.alias("mov_avg_7"))


# ---------------------------------------------------------------------------
# J8 / J9 — semi & anti joins
# ---------------------------------------------------------------------------


@register(
    "j08_customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def j08_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join (J8)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    out = semi_join(c, o, c["c_custkey"] == o["o_custkey"])
    return out.select("c_custkey", "c_name", "c_mktsegment")


@register(
    "j09_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN anti-join (J9/U4)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    out = anti_join(c, o, c["c_custkey"] == o["o_custkey"])
    return out.select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J6/F7 — date-spine range join
# ---------------------------------------------------------------------------


@register(
    "j06_orders_active_per_month",
    oracle="""
    WITH spine AS (
        SELECT CAST(d AS DATE) AS spine_date
        FROM generate_series(DATE '1995-01-01', DATE '2001-12-01', INTERVAL 1 MONTH) t(d)
    ), o AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_date FROM orders
    )
    SELECT spine_date, COUNT(o_orderkey) AS n_active
    FROM spine LEFT JOIN o
      ON o.start_date <= spine.spine_date AND spine.spine_date <= o.start_date + 89
    GROUP BY spine_date
    """,
)
def j06_orders_active_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-validity range join (J6) over a generated date spine (F7).

    Orders are 'active' for 90 days from order date; count actives at
    each month start — the webcompat topline-metric pattern.
    """
    spine = date_spine(spark, "1995-01-01", "2001-12-01", step_months=1)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("start_date"),
    )
    o = o.withColumn("end_date", F.date_add("start_date", 89))
    # Month-bucketed equi-join form: ~4 bucket rows per order vs 84
    # interval probes per order under the broadcast nested loop — the
    # shape that holds when the orders side is 1000× bigger.
    joined = range_join_active_at_bucketed(
        spine, o, "spine_date", "start_date", "end_date",
        clamp_end="2001-12-01",
    )
    return joined.groupBy("spine_date").agg(
        F.count("o_orderkey").alias("n_active")
    )


# ---------------------------------------------------------------------------
# J10 — stratified-sampling join (engine-portable md5 ordering)
# ---------------------------------------------------------------------------


@register(
    "j10_stratified_pairing",
    oracle="""
    WITH pool AS (
        SELECT c_mktsegment, c_custkey,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY md5(CAST(c_custkey AS VARCHAR) || 'seed42'), c_custkey) AS rn
        FROM customer WHERE c_custkey % 2 = 0
    ), demand AS (
        SELECT c_mktsegment, c_custkey,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY md5(CAST(c_custkey AS VARCHAR) || 'seed42'), c_custkey) AS rn
        FROM customer WHERE c_custkey % 2 = 1
    )
    SELECT p.c_mktsegment, p.c_custkey AS pool_custkey, d.c_custkey AS demand_custkey
    FROM pool p JOIN demand d ON p.c_mktsegment = d.c_mktsegment AND p.rn = d.rn
    """,
)
def j10_stratified_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-aligned stratified-sampling join (J10/W3).

    client_regeneration's replacement-matching pattern: pair rows
    across two sets within each stratum in seeded pseudo-random order.
    """
    c = load_table(spark, sf_dir, "customer")
    pool = c.filter(F.col("c_custkey") % 2 == 0).select("c_mktsegment", "c_custkey")
    demand = (
        c.filter(F.col("c_custkey") % 2 == 1)
        .select("c_mktsegment", F.col("c_custkey").alias("d_custkey"))
    )
    out = stratified_sampling_join(
        pool,
        demand,
        "c_mktsegment",
        ["c_custkey"],
        ["d_custkey"],
        seed="seed42",
        hash_fn="md5",
    )
    return out.select(
        "c_mktsegment",
        F.col("c_custkey").alias("pool_custkey"),
        F.col("d_custkey").alias("demand_custkey"),
    )


# ---------------------------------------------------------------------------
# J12 — enter/exit self-join (event pairs)
# ---------------------------------------------------------------------------


@register(
    "j12_signup_to_purchase",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id),
         p AS (SELECT user_id, MIN(ts) AS purchase_ts FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT s.user_id,
           date_diff('second', s.signup_ts, p.purchase_ts) AS secs_to_purchase
    FROM s JOIN p ON s.user_id = p.user_id
    WHERE p.purchase_ts >= s.signup_ts
    """,
)
def j12_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enter/exit self-join (J12): first signup → first purchase lag.

    The diagnosis-lifetime pattern: two filtered projections of the
    same event table joined on the entity key.
    """
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_user_id"))
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s.join(p, s["user_id"] == p["p_user_id"])
        .filter(F.col("purchase_ts") >= F.col("signup_ts"))
        .select(
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
            ).alias("secs_to_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# A2 — conditional counts
# ---------------------------------------------------------------------------


@register(
    "a02_conditional_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE value > 100) AS n_high,
           COUNT(*) FILTER (WHERE value <= 100) AS n_low,
           COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_even_user
    FROM events GROUP BY event_type
    """,
)
def a02_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNTIF-per-group metric registry pattern (A2/A3)."""
    ev = load_table(spark, sf_dir, "events")
    base = conditional_counts(
        ev,
        ["event_type"],
        {
            "n_high": F.col("value") > 100,
            "n_low": F.col("value") <= 100,
            "n_even_user": F.col("user_id") % 2 == 0,
        },
    )
    totals = ev.groupBy("event_type").agg(F.count("*").alias("n_total"))
    return totals.join(base, "event_type").select(
        "event_type", "n_total", "n_high", "n_low", "n_even_user"
    )


# ---------------------------------------------------------------------------
# A5/O3 — ordered, limited array agg
# ---------------------------------------------------------------------------


@register(
    "a05_last5_events_per_user",
    oracle="""
    SELECT user_id,
           array_to_string((list(event_id ORDER BY ts DESC, event_id DESC))[1:5], ',')
               AS last5_event_ids
    FROM events GROUP BY user_id
    """,
)
def a05_last5_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_AGG(... ORDER BY ts DESC LIMIT 5) per user (A5/O3) —
    the longitudinal most-recent-first capped history. The array is
    serialized to a comma-joined string at the query edge so the
    harness can hash rows; ``ordered_limited_collect`` itself returns
    the native array."""
    ev = load_table(spark, sf_dir, "events")
    out = ordered_limited_collect(
        ev, ["user_id"], ["ts", "event_id"], "event_id", limit=5, descending=True
    )
    return out.select(
        "user_id",
        F.array_join(
            F.transform("values", lambda x: x.cast("string")), ","
        ).alias("last5_event_ids"),
    )


# ---------------------------------------------------------------------------
# A7 — grouped percentiles (exact, binary-fraction probabilities)
# ---------------------------------------------------------------------------


@register(
    "a07_quantity_quartiles",
    oracle="""
    SELECT l_returnflag,
           array_to_string(
               list_transform(quantile_cont(CAST(l_quantity AS DOUBLE), [0.25, 0.5, 0.75]),
                              x -> printf('%.4f', x)), ',') AS qty_quartiles
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a07_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped continuous percentiles (A7/A8). Exact interpolation at
    binary-fraction probabilities so both engines agree bit-for-bit;
    the scale path (approximate=True → percentile_approx sketch) is
    exercised in unit tests. The quartile array is %.4f-formatted and
    comma-joined at the edge so harness rows hash."""
    li = load_table(spark, sf_dir, "lineitem")
    out = group_percentiles(
        li, ["l_returnflag"], "l_quantity", [0.25, 0.5, 0.75], approximate=False
    )
    return out.select(
        "l_returnflag",
        F.array_join(
            F.transform("percentiles", lambda x: F.format_string("%.4f", x)), ","
        ).alias("qty_quartiles"),
    )


# ---------------------------------------------------------------------------
# A10 — element-wise vector aggregation
# ---------------------------------------------------------------------------


@register(
    "a10_vector_sum_by_label",
    oracle="""
    WITH e AS (
        SELECT label,
               UNNEST(embedding) AS v,
               UNNEST(range(1, len(embedding) + 1)) AS i
        FROM embeddings
    ), s AS (
        SELECT label, i,
               CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sv
        FROM e GROUP BY label, i
    )
    SELECT label, array_to_string(list(sv ORDER BY i), ',') AS vector_sum
    FROM s GROUP BY label
    """,
)
def a10_vector_sum_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise vector sum per group (A10) — the DAP sumvec
    aggregation. Vectors are quantized to integers (floor(x*1000)) so
    the cross-engine sum is exact; production use on doubles is the
    same plan."""
    em = load_table(spark, sf_dir, "embeddings")
    ints = em.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("bigint"),
        ).alias("ivec"),
    )
    out = elementwise_vector_sum(ints, ["label"], "ivec")
    return out.select(
        "label",
        F.array_join(
            F.transform("vector_sum", lambda x: x.cast("string")), ","
        ).alias("vector_sum"),
    )


# ---------------------------------------------------------------------------
# U1 — unpivot / fan-in union
# ---------------------------------------------------------------------------


@register(
    "u01_orders_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, CAST(o_totalprice AS DOUBLE) AS value FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
    """,
)
def u01_orders_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (U1) — the manual UNION-ALL unpivot the
    reference builds (search_alert/main.py:76-110), via Spark's native
    unpivot."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
    )
    return o.unpivot("o_orderkey", ["o_totalprice", "o_custkey"], "metric", "value")


# ---------------------------------------------------------------------------
# U2 — distinct
# ---------------------------------------------------------------------------


@register(
    "u02_distinct_user_event_types",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def u02_distinct_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (U2)."""
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# P/§2.8 — scalar gauntlet (string/conditional families)
# ---------------------------------------------------------------------------


@register(
    "p01_scalar_gauntlet",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS name_word1,
           CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num,
           (p_type LIKE 'PROMO%') AS is_promo,
           upper(p_name) AS upper_name,
           substr(p_name, 1, 5) AS name_prefix,
           replace(p_name, 'widget', 'gadget') AS renamed,
           p_brand || ':' || p_type AS brand_type,
           p_retailprice / NULLIF(p_size, 0) AS price_per_size,
           CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 25 THEN 'medium' ELSE 'large' END AS size_class,
           coalesce(nullif(p_type, 'PROMO'), 'not-promo-exact') AS null_gauntlet
    FROM part
    """,
)
def p01_scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/conditional scalar families (§2.8; P6/P7/P9/P10/P11)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split("p_name", " ").getItem(0).alias("name_word1"),
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).try_cast("bigint").alias("brand_num"),
        F.col("p_type").like("PROMO%").alias("is_promo"),
        F.upper("p_name").alias("upper_name"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit("widget"), F.lit("gadget")).alias("renamed"),
        F.concat("p_brand", F.lit(":"), "p_type").alias("brand_type"),
        safe_divide(F.col("p_retailprice"), F.nullif(F.col("p_size"), F.lit(0))).alias("price_per_size"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 25, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.coalesce(F.nullif("p_type", F.lit("PROMO")), F.lit("not-promo-exact")).alias("null_gauntlet"),
    )


# ---------------------------------------------------------------------------
# §2.8 date/time family
# ---------------------------------------------------------------------------


@register(
    "f01_date_family",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(date_trunc('week', CAST(o.o_orderdate AS DATE)) AS DATE) AS order_week,
           CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE) AS order_month,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT) AS ship_lag_days,
           CAST(dayofweek(CAST(o.o_orderdate AS DATE)) + 1 AS BIGINT) AS order_dow,
           CAST(o.o_orderdate AS DATE) + 30 AS due_date,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(quarter(o.o_orderdate) AS BIGINT) AS order_quarter
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def f01_date_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family (§2.8): trunc, diff, dow, arithmetic.

    dow convention: Spark dayofweek (1=Sunday) — oracle shifts
    DuckDB's 0=Sunday to match.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        od.alias("order_date"),
        F.date_trunc("week", od).cast("date").alias("order_week"),
        F.date_trunc("month", od).cast("date").alias("order_month"),
        F.datediff(F.col("l_shipdate").cast("date"), od).cast("bigint").alias("ship_lag_days"),
        F.dayofweek(od).cast("bigint").alias("order_dow"),
        F.date_add(od, 30).alias("due_date"),
        F.year(od).cast("bigint").alias("order_year"),
        F.quarter(od).cast("bigint").alias("order_quarter"),
    )


# ---------------------------------------------------------------------------
# §2.8 JSON family
# ---------------------------------------------------------------------------


@register(
    "f02_json_family",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def f02_json_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction family (§2.8): semi-structured props column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.groupBy("event_type").agg(
        F.sum(k.try_cast("bigint")).cast("bigint").alias("sum_k"),
        F.max(k.try_cast("bigint")).cast("bigint").alias("max_k"),
        F.count(k).alias("n_with_k"),
    )


# ---------------------------------------------------------------------------
# T6 — tumbling-window aggregation (batch form)
# ---------------------------------------------------------------------------


@register(
    "t06_tumbling_5min",
    oracle="""
    SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 300) * 300000000 AS BIGINT)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def t06_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregation (T6) — batch twin of the
    DAP collection slots; identical window() call works under
    Structured Streaming with a watermark (see streaming/)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "300 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _dbl(F.sum(_dec("value"))).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Text analysis over documents (LLM-pipeline operators)
# ---------------------------------------------------------------------------


@register(
    "x01_token_stats_by_lang",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def x01_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + corpus stats per language."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


@register(
    "x02_quality_scores",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT) AS n_stopwords,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
               / NULLIF(len(string_split(text, ' ')), 0) AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / NULLIF(len(string_split(text, ' ')), 0) AS chars_per_token
    FROM documents
    """,
)
def x02_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token counts, stopword ratio,
    chars-per-token — the text-quality features of a training-data
    pipeline, all as JVM expressions (no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    low_tokens = F.split(F.lower("text"), " ")
    stop = F.size(
        F.filter(low_tokens, lambda w: w.isin("the", "a", "and", "of", "to"))
    )
    n_tok = F.size(tokens)
    return d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        stop.cast("bigint").alias("n_stopwords"),
        safe_divide(stop.cast("double"), F.nullif(n_tok, F.lit(0))).alias("stopword_ratio"),
        safe_divide(F.col("n_chars").cast("double"), F.nullif(n_tok, F.lit(0))).alias("chars_per_token"),
    )


@register(
    "x03_exact_dedup_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups
    FROM documents GROUP BY source
    """,
)
def x03_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate detection summary (hash-groupBy dedup family)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("text").alias("n_distinct"),
        (F.count("*") - F.count_distinct("text")).alias("n_exact_dups"),
    )


# ---------------------------------------------------------------------------
# LLM-data operators: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

from docker_etl_spark.operators.text_dedup import (  # noqa: E402
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from docker_etl_spark.operators.text_analysis import (  # noqa: E402
    document_fingerprint,
    langid_scores,
)
from docker_etl_spark.operators.similarity import (  # noqa: E402
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_duplicates,
)


@register(
    "x04_ngram_jaccard_pairs",
    oracle="""
    WITH tok AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id, source, n_chars,
               list_distinct(list_transform(range(1, len(w) - 1),
                                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM tok WHERE len(w) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 20
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.01
    """,
)
def x04_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard near-dup scoring (dedup baseline)."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, block_cols=("source",), length_tolerance=20, shingle_n=3, threshold=0.01
    )


@register(
    "x05_minhash_lsh_near_dups",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM tok WHERE len(w) >= 3
    ),
    sig AS (
        SELECT doc_id, s,
               [list_min(list_transform(s, x -> md5(x || 'p0'))),
                list_min(list_transform(s, x -> md5(x || 'p1'))),
                list_min(list_transform(s, x -> md5(x || 'p2'))),
                list_min(list_transform(s, x -> md5(x || 'p3'))),
                list_min(list_transform(s, x -> md5(x || 'p4'))),
                list_min(list_transform(s, x -> md5(x || 'p5'))),
                list_min(list_transform(s, x -> md5(x || 'p6'))),
                list_min(list_transform(s, x -> md5(x || 'p7'))),
                list_min(list_transform(s, x -> md5(x || 'p8'))),
                list_min(list_transform(s, x -> md5(x || 'p9'))),
                list_min(list_transform(s, x -> md5(x || 'p10'))),
                list_min(list_transform(s, x -> md5(x || 'p11')))] AS g
        FROM sh
    ),
    bands AS (
        SELECT doc_id, b,
               md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
        FROM sig, unnest([0, 1, 2]) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
    FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
    """,
)
def x05_minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection, md5-portable mode
    (12 perms, 3 bands × 4 rows, exact-Jaccard verify ≥ 0.5)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        d, num_perm=12, bands=3, threshold=0.5, hash_fn="md5"
    )


@register(
    "x06_ann_cosine_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e
    ),
    q AS (SELECT * FROM n WHERE vec_id < 5 AND nrm > 0),
    c AS (SELECT * FROM n WHERE nrm > 0),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS DOUBLE)
                   / sqrt(CAST(q.nrm * c.nrm AS DOUBLE)) AS cosine
        FROM q JOIN c ON c.vec_id != q.vec_id
    )
    SELECT query_id, corpus_id, cosine FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) <= 3
    """,
)
def x06_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 (similarity-search baseline), integer
    quantization for cross-engine exactness; float path in tests."""
    em = load_table(spark, sf_dir, "embeddings")
    ivec = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), ivec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), ivec.alias("vec"))
    return cosine_topk_bruteforce(q, c, k=3, exact_int=True)


@register(
    "x07_langid",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(string_split(lower(text), ' ')) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, lang,
               len(list_intersect(toks, ['the','and','of','to','a','in','is','that'])) AS s_en,
               len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','zu'])) AS s_de,
               len(list_intersect(toks, ['el','la','de','que','y','en','un','es'])) AS s_es,
               len(list_intersect(toks, ['le','la','de','et','un','est','que','pour'])) AS s_fr,
               len(list_intersect(toks, ['的','是','不','了','在','人','有','我'])) AS s_zh
        FROM t
    )
    SELECT doc_id, lang,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
             WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
             WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
             WHEN s_zh >= s_en AND s_zh >= s_de AND s_zh >= s_es AND s_zh >= s_fr AND s_zh > 0 THEN 'zh'
             ELSE 'und'
           END AS pred_lang,
           CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
           CAST(s_es AS BIGINT) AS s_es, CAST(s_fr AS BIGINT) AS s_fr,
           CAST(s_zh AS BIGINT) AS s_zh
    FROM s
    """,
)
def x07_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via stopword-profile overlap (argmax with
    fixed tie priority)."""
    from docker_etl_spark.operators.text_analysis import langid_predict

    d = load_table(spark, sf_dir, "documents")
    scores = langid_scores(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        langid_predict(F.col("text")).alias("pred_lang"),
        *[scores[lang].cast("bigint").alias(f"s_{lang}") for lang in ("en", "de", "es", "fr", "zh")],
    )


@register(
    "x08_document_fingerprints",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM tok WHERE len(w) >= 3
    )
    SELECT doc_id,
           array_to_string((list_sort(list_transform(s, x -> md5(x))))[1:5], ',') AS fingerprint,
           md5(list_aggregate((list_sort(list_transform(s, x -> md5(x))))[1:5], 'string_agg', '')) AS fp_key
    FROM sh
    """,
)
def x08_document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprints (k smallest shingle
    digests) + a single clusterable fingerprint key."""
    from docker_etl_spark.operators._util import spread_for_compute
    from docker_etl_spark.operators.text_analysis import fingerprint_key

    d = spread_for_compute(load_table(spark, sf_dir, "documents"))
    fp = document_fingerprint("text", k=5, shingle_n=3)
    return (
        d.select("doc_id", fp.alias("_fp"), fingerprint_key("text").alias("fp_key"))
        .filter(F.size("_fp") > 0)
        .select("doc_id", F.array_join("_fp", ",").alias("fingerprint"), "fp_key")
    )


# Scale-path variants (engine-specific hashing / float math — no SQL
# oracle; the driver records rows-only checks, semantics covered by
# the md5/int-quantized twins above and unit tests).


# x09's oracle is the hash-independent ground truth: ALL pairs with
# exact shingle Jaccard >= threshold, brute-forced in SQL. Matching
# it asserts two things about the xxhash64 fast path at once: the
# exact-Jaccard verify join is correct, AND the 64-perm/8-band LSH
# banding has complete recall on this corpus (verified empirically at
# sf0.001/0.01/0.1: the planted near-dups sit far above the S-curve
# knee, so every true pair shares at least one band). A banding
# regression that drops a true pair turns this row red.
_X09_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(w) - 1),
                                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
    FROM tok WHERE len(w) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
"""


@register("x09_minhash_fast", oracle=_X09_ORACLE)
def x09_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with xxhash64 signatures — the production/scale
    configuration (64 perms, 8 bands, exact-Jaccard verify)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        d, num_perm=64, bands=8, threshold=0.5, hash_fn="xxhash64"
    )


# x10's oracle reproduces the md5-mode SimHash signature bit-for-bit
# in SQL (60-bit big-endian int of the first 15 md5 hex chars per
# token; strict-majority votes over bits 0..59), then brute-forces
# hamming<=3 pairs — sound against the engine's blocked join because
# pigeonhole chunking is recall-COMPLETE (the blocked pair set
# provably equals the brute-force pair set). The SWAR vote kernel is
# identical in both hash modes; only the per-token hash expression
# differs, so this greens the very kernel the xxhash64 path runs.
_X10_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
),
words AS (
  SELECT doc_id, len(ts) AS n, unnest(ts) AS w FROM tok
),
th AS (
  SELECT doc_id, n,
         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
  FROM words
),
votes AS (
  SELECT doc_id, n, b.k, SUM((h >> b.k) & 1) AS v
  FROM th, (SELECT unnest(range(0, 60)) AS k) b
  GROUP BY doc_id, n, b.k
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN 2 * v > n THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS s
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 3
ORDER BY id_a, id_b
"""


@register("x10_simhash_near_dups", oracle=_X10_ORACLE)
def x10_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole chunk blocking
    (max_hamming=3 -> four derived chunks, recall-complete), md5
    portable hash mode — the SWAR vote kernel under oracle check.
    The xxhash64 fast path (same kernel, cheaper per-token hash) is
    pinned bit-identical to the reference fold by
    tests/test_text_similarity_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, max_hamming=3, hash_fn="md5").orderBy(
        "id_a", "id_b"
    )


def _signlsh_bucket_case_sql(dim: int, n_planes: int, n_tables: int, seed: int) -> str:
    """DuckDB SQL fragment computing the SAME sign-LSH bucket as the
    engine's exact-int mode for a quantized vector column ``v`` and a
    table column ``tbl``: the quantized plane matrices (identical
    Python-generated literals on both sides) make bucketing a pure
    int64 computation, bit-equal in any engine."""
    from docker_etl_spark.operators.similarity import (
        quantize_planes,
        random_hyperplanes,
    )

    whens = []
    for t in range(n_tables):
        planes = quantize_planes(random_hyperplanes(dim, n_planes, seed + t))
        bits = " + ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> v[i] * ([{','.join(map(str, row))}])[i])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, row in enumerate(planes)
        )
        whens.append(f"WHEN {t} THEN ({bits})")
    return "CASE tbl " + " ".join(whens) + " END"


# Quantized vectors (floor(x·1000) int64) + quantized planes make the
# whole LSH pipeline — bucketing, candidate join, cosine — exactly
# reproducible in SQL: every operation is int64 until the single
# final IEEE division. Same exactness discipline as x06/x13.
_X11_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
),
tabs AS (SELECT unnest(range(0, 4)) AS tbl),
bk AS (
  SELECT vec_id, v, tbl, {_signlsh_bucket_case_sql(64, 8, 4, 42)} AS bkt
  FROM e, tabs
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bkt = c.bkt
  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         CAST(list_sum(list_transform(range(1, 65), i -> qe.v[i] * ce.v[i])) AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(qe.v, x -> x * x))
                       * list_sum(list_transform(ce.v, x -> x * x)) AS DOUBLE)) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.corpus_id
)
SELECT query_id, corpus_id, cosine FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) <= 3
"""

_QUANTIZE_SQL = "transform({src}, x -> cast(floor(cast(x as double) * 1000) as bigint))"


@register("x11_ann_cosine_lsh", oracle=_X11_ORACLE)
def x11_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH, exact-int
    quantized mode (cross-engine-reproducible buckets + cosines).
    The float path is the operator default, pinned against brute
    force in tests/test_text_similarity_ops.py."""
    em = load_table(spark, sf_dir, "embeddings")
    vec = F.expr(_QUANTIZE_SQL.format(src="embedding"))
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), vec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), vec.alias("vec"))
    return cosine_topk_lsh(
        q, c, dim=64, k=3, n_planes=8, n_tables=4, exact_int=True
    )


_X12_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
aug AS (
  SELECT vec_id, dv FROM base
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, 65), i -> CASE WHEN i = 1 THEN dv[i] + 0.01 ELSE dv[i] END)
  FROM base WHERE vec_id < 20
),
e AS (
  SELECT vec_id, list_transform(dv, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v
  FROM aug
),
tabs AS (SELECT unnest(range(0, 6)) AS tbl),
bk AS (
  SELECT vec_id, v, tbl, {_signlsh_bucket_case_sql(64, 10, 6, 42)} AS bkt
  FROM e, tabs
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i])) AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(ea.v, x -> x * x))
                       * list_sum(list_transform(eb.v, x -> x * x)) AS DOUBLE)) AS cosine
  FROM cand
  JOIN e ea ON ea.vec_id = cand.id_a
  JOIN e eb ON eb.vec_id = cand.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
"""


@register("x12_embedding_near_dups", oracle=_X12_ORACLE)
def x12_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over the whole corpus
    (sign-LSH self-join), exact-int quantized mode.

    The fixture's random vectors have no genuine near-dups (max
    pairwise cosine ≈ 0.51), so the corpus is augmented with
    deterministic perturbed copies of vec_id < 20 (one component
    nudged, id + 1_000_000): each planted pair has cosine ≈ 1, and
    the LSH must recover all 20 — a built-in recall check instead of
    a vacuous empty result. The oracle replays the same planting,
    quantization, bucketing, and verify in SQL."""
    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("dv"))
    planted = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            dvec, lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("dv"),
    )
    aug = base.unionByName(planted).select(
        "vec_id", F.expr(_QUANTIZE_SQL.format(src="dv")).alias("vec")
    )
    return embedding_near_duplicates(
        aug, dim=64, threshold=0.9, n_planes=10, n_tables=6, exact_int=True
    )


# ---------------------------------------------------------------------------
# Batch 3: weighted scores, jackknife, funnel, rollup/cube, rankings,
# set ops, scalar subquery, lateral explode
# ---------------------------------------------------------------------------

from docker_etl_spark.operators.aggregates import jackknife_sum_ci  # noqa: E402
from docker_etl_spark.operators.funnel import funnel_counts  # noqa: E402

_WEIGHTS_VALUES = """
    VALUES ('segment','BUILDING',   CAST(1.10 AS DECIMAL(12,2))),
           ('segment','AUTOMOBILE', CAST(1.05 AS DECIMAL(12,2))),
           ('segment','MACHINERY',  CAST(1.00 AS DECIMAL(12,2))),
           ('segment','FURNITURE',  CAST(0.95 AS DECIMAL(12,2))),
           ('segment','HOUSEHOLD',  CAST(0.90 AS DECIMAL(12,2))),
           ('parity','even',        CAST(2.00 AS DECIMAL(12,2))),
           ('parity','odd',         CAST(3.00 AS DECIMAL(12,2)))
"""


@register(
    "a04_weighted_score_product",
    oracle=f"""
    WITH weights(lookup_type, lookup_value, score) AS ({_WEIGHTS_VALUES})
    SELECT c.c_custkey,
           CAST(SUM(CASE WHEN w.lookup_type = 'segment' AND w.lookup_value = c.c_mktsegment
                         THEN w.score ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS segment_term,
           CAST(SUM(CASE WHEN w.lookup_type = 'parity'
                          AND w.lookup_value = CASE WHEN c.c_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END
                         THEN w.score ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS parity_term,
           CAST(SUM(CASE WHEN w.lookup_type = 'segment' AND w.lookup_value = c.c_mktsegment
                         THEN w.score ELSE CAST(0 AS DECIMAL(12,2)) END)
              * SUM(CASE WHEN w.lookup_type = 'parity'
                          AND w.lookup_value = CASE WHEN c.c_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END
                         THEN w.score ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS final_score
    FROM customer c CROSS JOIN weights w
    GROUP BY c.c_custkey
    """,
)
def a04_weighted_score_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted score product (A4/J4): CROSS JOIN a broadcast weights
    dimension, pivoted conditional sums per lookup_type, product of
    terms — the WEBCOMPAT_METRIC_SCORE pattern decorrelated into a
    join + expressions (SURVEY.md §4 'UDF-with-subquery' rewrite)."""
    c = load_table(spark, sf_dir, "customer")
    weights = spark.sql(
        f"SELECT * FROM ({_WEIGHTS_VALUES}) AS t(lookup_type, lookup_value, score)"
    )
    parity = F.when(F.col("c_nationkey") % 2 == 0, "even").otherwise("odd")
    zero = F.lit(0).cast("decimal(12,2)")
    seg_term = F.sum(
        F.when(
            (F.col("lookup_type") == "segment")
            & (F.col("lookup_value") == F.col("c_mktsegment")),
            F.col("score"),
        ).otherwise(zero)
    )
    par_term = F.sum(
        F.when(
            (F.col("lookup_type") == "parity") & (F.col("lookup_value") == parity),
            F.col("score"),
        ).otherwise(zero)
    )
    return (
        c.crossJoin(F.broadcast(weights))
        .groupBy("c_custkey")
        .agg(
            seg_term.cast("double").alias("segment_term"),
            par_term.cast("double").alias("parity_term"),
            (seg_term * par_term).cast("double").alias("final_score"),
        )
    )


@register(
    "a06_event_type_sets",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def a06_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_AGG(DISTINCT ...) (A6): sorted distinct-set collection,
    comma-joined at the edge so harness rows hash."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count_distinct("event_type").cast("bigint").alias("n_types"),
    )


@register(
    "a09_jackknife_ci",
    oracle="""
    WITH b AS (
        SELECT event_type, user_id % 20 AS bucket,
               SUM(CAST(value AS DECIMAL(12,2))) AS bv
        FROM events GROUP BY 1, 2
    ), a AS (
        SELECT event_type,
               CAST(SUM(bv) AS DOUBLE) AS total,
               CAST(SUM(bv * bv) AS DOUBLE) AS sumsq
        FROM b GROUP BY 1
    )
    SELECT event_type, total,
           total - 1.96 * sqrt((20.0 / (20.0 - 1)) * (sumsq - 20.0 * (total / 20.0) * (total / 20.0))) AS ci_low,
           total + 1.96 * sqrt((20.0 / (20.0 - 1)) * (sumsq - 20.0 * (total / 20.0) * (total / 20.0))) AS ci_high
    FROM a
    """,
)
def a09_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife sum CI over 20 id-buckets (A9/F3) — the
    udf_js.jackknife_sum_ci UDAF as a closed-form expression."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", F.col("user_id") % 20
    )
    out = jackknife_sum_ci(ev, ["event_type"], "bucket", "value", n_buckets=20)
    return out.select(
        "event_type",
        F.col("ci.total").alias("total"),
        F.col("ci.low").alias("ci_low"),
        F.col("ci.high").alias("ci_high"),
    )


@register(
    "a11_funnel_stages",
    oracle="""
    SELECT CASE WHEN o_orderstatus = 'F' THEN 'finished'
                WHEN o_orderpriority = '1-URGENT' THEN 'urgent_open'
                WHEN o_totalprice > 100000 THEN 'big_open'
                ELSE 'other' END AS stage,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def a11_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-circuit funnel classification + per-stage counts (A11/A12)
    — the update-orphaning categorize() as one when-chain aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return funnel_counts(
        o,
        [
            ("finished", F.col("o_orderstatus") == "F"),
            ("urgent_open", F.col("o_orderpriority") == "1-URGENT"),
            ("big_open", F.col("o_totalprice") > 100000),
        ],
    )


@register(
    "a15_monthly_revenue",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY 1
    """,
)
def a15_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-to-period (A15): date_trunc month + exact sums."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
    ).agg(_dbl(F.sum(revenue)).alias("revenue"), F.count("*").alias("n_items"))


@register(
    "j07_token_explode",
    oracle="""
    SELECT t.token,
           CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_total
    FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
    WHERE t.token <> ''
    GROUP BY t.token
    """,
)
def j07_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array join (J7): correlated UNNEST → explode, with
    per-token document frequencies."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_total"),
        )
    )


@register(
    "j14_scalar_subquery_recent_orders",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >
          (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem) - 90
    """,
)
def j14_scalar_subquery_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery join (J14): filter against MAX over another
    table via a broadcast 1-row aggregate (no driver-side collect)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("__mx"))
    return (
        o.crossJoin(F.broadcast(mx))
        .filter(F.col("o_orderdate").cast("date") > F.date_sub("__mx", 90))
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
    )


@register(
    "u05_intersect_except",
    oracle="""
    WITH a AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT c_custkey, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT c_custkey, 'building_only' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
)
def u05_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (U5)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey").distinct()
    b = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return a.intersect(b).withColumn("op", F.lit("both")).unionByName(
        a.subtract(b).withColumn("op", F.lit("building_only"))
    )


@register(
    "g01_rollup_revenue",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def g01_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (§2.4 note: the reference hand-rolls this via
    UNION ALL of per-dim and 'all' aggregates; Spark has it native).

    Two plan moves vs the naive form, same exact values:

    1. Pre-aggregate to the finest grain FIRST, then roll up the tiny
       per-(region, nation) partials — Spark's rollup runs through an
       Expand that triples its input, so expand 25 partial rows, not
       every lineitem.
    2. Per-row money math in scaled-long space (price cents ×
       discount hundredths → long), decimal only at the 25-row edge.
       Long multiply-accumulate stays in whole-stage codegen at ~2×
       the throughput of per-row decimal(12,2) ops, and sums fit a
       long up to ~9e18/1e8 ≈ 9e10 rows per group. Exactness: money
       inputs are 2-dp values, so round(x*100) and cast(decimal(12,2))
       agree (boundary flips would need an input with >2 real decimal
       places), and the final decimal(38,0)/10000 → double conversion
       is a single correctly-rounded step, identical to the oracle's
       decimal-sum → double cast."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_h = F.round(F.col("l_discount") * 100).cast("long")
    fine = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(cents * (100 - disc_h)).alias("rev_e4"), F.count("*").alias("n_part"))
    )
    return fine.rollup("r_name", "n_name").agg(
        ((F.sum("rev_e4").cast("decimal(38,0)") / 10000).cast("double")).alias("revenue"),
        F.sum("n_part").alias("n_items"),
    )


@register(
    "g02_cube_counts",
    oracle="""
    SELECT event_type,
           CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT) AS dow,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE(event_type, CAST(dayofweek(CAST(date_trunc('day', ts) AS DATE)) + 1 AS BIGINT))
    """,
)
def g02_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek(F.date_trunc("day", "ts").cast("date")).cast("bigint")
    )
    return ev.cube("event_type", "dow").agg(
        F.count("*").alias("n"), _dbl(F.sum(_dec("value"))).alias("total_value")
    )


@register(
    "w07_ranking_suite",
    oracle="""
    WITH totals AS (
        SELECT event_type, user_id,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, total_value,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           LEAD(total_value, 1) OVER w AS next_total,
           LAG(total_value, 1) OVER w AS prev_total
    FROM totals
    WINDOW w AS (PARTITION BY event_type ORDER BY total_value DESC, user_id ASC)
    """,
)
def w07_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking functions beyond row_number (SURVEY.md §2.5 note:
    rank/dense_rank/ntile/lead come free in Spark)."""
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        _dbl(F.sum(_dec("value"))).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return totals.select(
        "event_type",
        "user_id",
        "total_value",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.lead("total_value", 1).over(w).alias("next_total"),
        F.lag("total_value", 1).over(w).alias("prev_total"),
    )


# ---------------------------------------------------------------------------
# Batch 4: metric registry, replay, incremental/snapshot, left/variant
# joins, top-k family, set sync, quantiles, approx-distinct, roundtrips
# ---------------------------------------------------------------------------

from docker_etl_spark.functions.metrics import (  # noqa: E402
    CountMetric,
    SumMetric,
    metric_columns,
    metric_select_sql,
)
from docker_etl_spark.functions.scalars import host_variants  # noqa: E402
from docker_etl_spark.operators.replay import replay_states  # noqa: E402

_ORDER_METRICS = [
    CountMetric("n_urgent", "o_orderpriority = '1-URGENT'"),
    CountMetric("n_low_pri", "o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')"),
    SumMetric("open_revenue", "o_totalprice", "o_orderstatus = 'O'"),
    SumMetric("big_revenue", "o_totalprice", "o_totalprice > 200000"),
    CountMetric("n_all", "TRUE"),
]


@register(
    "a03_metric_registry",
    oracle=f"""
    SELECT o_orderstatus,
           {metric_select_sql(_ORDER_METRICS)}
    FROM orders GROUP BY o_orderstatus
    """,
)
def a03_metric_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven generated aggregates (A3): one metric registry
    emits both the Spark Column plan and the oracle SQL.

    Reference: webcompat_kb/metrics/metrics.py:151-177 (CountMetricType
    → COUNTIF, SumMetricType → SUM(IF(...))), spliced into views at
    metrics/metrics.py:196-216. Scale: a single hash aggregate;
    metric count only widens the aggregation buffer."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(*metric_columns(_ORDER_METRICS))


@register(
    "a08_exact_quantiles",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_transform(quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
                                          x -> printf('%.4f', x)), ',') AS qs,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a08_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (A8) — the client-side pandas
    ``df.quantile`` path (data_validation.py:219-221;
    kpi_forecasting/pandas_extras.py:5-12) as a distributed exact
    ``percentile``. Binary-fraction probabilities on integer-valued
    measures keep interpolation exact across engines (see module
    docstring). Scale: exact percentile sorts per group in the
    aggregation buffer — use a07's percentile_approx sketch when
    groups are huge."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(
            F.transform(
                F.percentile(
                    "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
                ),
                lambda x: F.format_string("%.4f", x),
            ),
            ",",
        ).alias("qs"),
        F.count("*").alias("n"),
    )


@register(
    "a12_priority_classify_counts",
    oracle="""
    SELECT CASE
             WHEN o_orderpriority = '1-URGENT' AND o_orderstatus = 'O' THEN 'urgent_open'
             WHEN o_orderpriority = '1-URGENT' THEN 'urgent_done'
             WHEN o_totalprice > 250000 THEN 'jumbo'
             WHEN o_orderstatus = 'P' THEN 'pending'
             ELSE 'normal'
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
)
def a12_priority_classify_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match classification chain then counts (A12) — the
    graphics sanity-outcome priority pick (graphics_dashboard.sql:
    431-489). A when-chain is evaluated top-down exactly like SQL
    CASE, so the first matching arm wins in both engines."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O"),
            "urgent_open",
        )
        .when(F.col("o_orderpriority") == "1-URGENT", "urgent_done")
        .when(F.col("o_totalprice") > 250000, "jumbo")
        .when(F.col("o_orderstatus") == "P", "pending")
        .otherwise("normal")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("o_totalprice"))).alias("revenue"),
    )


@register(
    "a13_incremental_append_window",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate > (SELECT MAX(o_orderdate) - INTERVAL 30 DAY FROM orders)
    GROUP BY 1
    """,
)
def a13_incremental_append_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded incremental aggregation (A13/T8): aggregate
    only days newer than the stored watermark (here: max-30d so the
    fixture is self-contained). Reference:
    etl/user_reports_aggregate.py:17-53 (@latest_stored bound).

    Scale: the watermark scalar broadcasts into a partition-prunable
    predicate — on a date-partitioned lake this reads only the new
    partitions. plans/incremental.py is the stateful-watermark
    runtime around this plan."""
    o = load_table(spark, sf_dir, "orders")
    wm = o.agg((F.max("o_orderdate") - F.expr("INTERVAL 30 DAY")).alias("wm"))
    return (
        o.join(F.broadcast(wm))
        .filter(F.col("o_orderdate") > F.col("wm"))
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            _dbl(F.sum(_dec("o_totalprice"))).alias("revenue"),
        )
    )


@register(
    "a14_snapshot_history_insert",
    oracle="""
    SELECT (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders) AS as_of,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 2
    """,
)
def a14_snapshot_history_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-history row (A14): current-state aggregate stamped
    with the run date (etl/metric.py:41-56 INSERT SELECT
    CURRENT_DATE(), ...). Deterministic twin: stamp with max(data
    date) instead of wall-clock; production callers pass
    current_date() and append via write_table(mode='append')."""
    o = load_table(spark, sf_dir, "orders")
    as_of = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("as_of"))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            _dbl(F.sum(_dec("o_totalprice"))).alias("revenue"),
        )
        .join(F.broadcast(as_of))
        .select("as_of", "o_orderstatus", "n_orders", "revenue")
    )


@register(
    "j03_left_outer_enrich",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(o.rev, 0) AS DOUBLE) AS revenue
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    """,
)
def j03_left_outer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER enrichment join with zero-fill (J3) — component
    ownership / host-category pattern (site_reports/view.sql:31-35).
    Aggregate-then-join keeps the join input small (one row per
    custkey) instead of joining raw orders then re-aggregating —
    at scale the pre-aggregation is the difference between shuffling
    |orders| and |customers| rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("o_totalprice"))).alias("rev"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce("rev", F.lit(0.0)).alias("revenue"),
    )


@register(
    "j13_host_variant_join",
    oracle="""
    WITH site_list AS (SELECT DISTINCT source AS canonical FROM documents),
    variants AS (
      SELECT canonical, canonical AS match_host FROM site_list
      UNION ALL SELECT canonical, 'www.' || canonical FROM site_list
      UNION ALL SELECT canonical, 'm.' || canonical FROM site_list
    ),
    probes AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN source
                             WHEN 1 THEN 'www.' || source
                             ELSE 'm.' || source END AS host
      FROM documents
    )
    SELECT v.canonical, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM probes p JOIN variants v ON p.host = v.match_host
    GROUP BY v.canonical
    """,
)
def j13_host_variant_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-variant expansion join (J13): match hosts against a site
    list under {host, www.host, m.host} equivalence
    (webcompat_topline_metric_bug_hosts/view.sql:10-40).

    Spark-first: explode the variant array (union-free) and equi-join;
    the site list is small → broadcast, so variant expansion never
    shuffles the big side."""
    d = load_table(spark, sf_dir, "documents")
    site_list = d.select(F.col("source").alias("canonical")).distinct()
    variants = site_list.select(
        "canonical", F.explode(host_variants("canonical")).alias("match_host")
    )
    probes = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("source"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("www."), F.col("source")))
        .otherwise(F.concat(F.lit("m."), F.col("source")))
        .alias("host"),
    )
    return (
        probes.join(F.broadcast(variants), probes.host == variants.match_host)
        .groupBy("canonical")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "w02_one_per_timestamp",
    oracle="""
    SELECT user_id, window_start, event_id, event_type
    FROM (
      SELECT user_id,
             make_timestamp(CAST(FLOOR(epoch(ts) / 300) * 300000000 AS BIGINT)) AS window_start,
             event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, FLOOR(epoch(ts) / 300)
               ORDER BY event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def w02_one_per_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (entity, time bucket) dedup (W2) — the
    experiments-export ROW_NUMBER-per-timestamp pattern
    (experiments_monitoring_data_export/export.py:119-131), with the
    5-minute bucketing of T6. Deterministic survivor via event_id
    tiebreak (never rely on dropDuplicates order)."""
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        "user_id",
        F.window("ts", "300 seconds").getField("start").alias("window_start"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id", "window_start").orderBy("event_id")
    return (
        bucketed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "o02_latest_row",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day, CAST(o_totalprice AS DOUBLE) AS total
    FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
    """,
)
def o02_latest_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT 1 latest-row lookup (O2) — watermark reads
    (etl/metric.py:23-28, etl/siterank.py:40-45). Spark plans this as
    TakeOrderedAndProject: per-partition top-1 then a driver merge —
    no global sort at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(1)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("day"),
            F.col("o_totalprice").cast("double").alias("total"),
        )
    )


@register(
    "o03_topk_in_array",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(
               list_transform((list(o_totalprice ORDER BY o_totalprice DESC, o_orderkey ASC))[1:3],
                              x -> printf('%.2f', x)), ',') AS top3
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def o03_topk_in_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k inside an array aggregate (O3/A5) — ARRAY_AGG(... ORDER
    BY ... LIMIT k) (out_of_date_details.sql:144). sort_array over
    collected structs then slice; o_orderkey tiebreaks duplicate
    prices so both engines pick identical elements."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    )
    packed = F.struct(
        (-F.col("o_totalprice")).alias("negp"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("__v"),
    )
    top3 = F.array_join(
        F.transform(
            F.slice(F.sort_array(F.collect_list(packed)), 1, 3),
            lambda s: F.format_string("%.2f", s["__v"]),
        ),
        ",",
    )
    return joined.groupBy("c_mktsegment").agg(top3.alias("top3"))


@register(
    "o04_rank_tier_scores",
    oracle="""
    SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS tier_price
    FROM (
      SELECT p_retailprice,
             CASE WHEN rnk <= 10 THEN 15.0
                  WHEN rnk <= 100 THEN 7.5
                  WHEN rnk <= 1000 THEN 5.0
                  ELSE 1.0 END AS tier
      FROM (
        SELECT p_retailprice,
               ROW_NUMBER() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
        FROM part
      )
    ) GROUP BY tier
    """,
)
def o04_rank_tier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-threshold tiering (O4) — the site-rank score modifier
    tiers (WEBCOMPAT_METRIC_SCORE_SITE_RANK_MODIFIER/routine.sql:4-40,
    rank<=1000 → 15 etc.; thresholds scaled to fixture size). The
    correlated-subquery routine is decorrelated into rank + CASE —
    the rewrite §4 mandates (UDFs cannot subquery)."""
    p = load_table(spark, sf_dir, "part")
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    ranked = p.select(
        "p_retailprice", F.row_number().over(w).alias("rnk")
    )
    tier = (
        F.when(F.col("rnk") <= 10, 15.0)
        .when(F.col("rnk") <= 100, 7.5)
        .when(F.col("rnk") <= 1000, 5.0)
        .otherwise(1.0)
    )
    return ranked.groupBy(tier.alias("tier")).agg(
        F.count("*").alias("n_parts"),
        _dbl(F.sum(_dec("p_retailprice"))).alias("tier_price"),
    )


@register(
    "u03_natural_key_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def u03_natural_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-key dedup with a deterministic survivor (U3/T3) —
    fxci_etl/loaders/bigquery.py:60-73. Production uses
    dedupe_natural_key (dropDuplicates: map-side partial dedup,
    arbitrary survivor); the differential twin pins the survivor to
    min(event_id) so both engines agree."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.select("user_id", "event_type", "event_id", F.col("value").cast("double").alias("value"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "u04_set_diff_sync",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey
        AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    )
    """,
)
def u04_set_diff_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference sync (U4): desired-vs-existing anti join —
    schema diffing (bqhelpers.py:469-516), missing-relations backfill
    (etl/bugzilla.py:570-577). left_anti never materializes the
    difference set; the filter pushes to the scan."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    recent = li.filter(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp_ntz")
    ).select(F.col("l_suppkey").alias("s_suppkey"))
    return anti_join(s.select("s_suppkey", "s_name"), recent, ["s_suppkey"])


@register(
    "cd01_approx_distinct_guardrail",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def cd01_approx_distinct_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct with an exactness guardrail (§2.4 note:
    the reference's MAU tables need COUNT(DISTINCT) at scale; HLL++ is
    the 100 TB path). The sketch value is engine-specific, so the
    differential contract checks the *error bound*: |approx - exact|
    ≤ 5% — deterministic for fixed data, portable across engines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.02).cast("double")
                - F.count_distinct("user_id").cast("double")
            )
            <= 0.05 * F.count_distinct("user_id").cast("double")
        ).alias("within_5pct"),
    )


@register(
    "r01_event_replay",
    oracle="""
    SELECT user_id, event_id, prev_type
    FROM (
      SELECT user_id, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
      FROM events
    ) WHERE prev_type IS NOT NULL
    """,
)
def r01_event_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sourced state replay (F6): reconstruct each entity's
    prior state by applying reverse diffs newest-first
    (etl/metric_changes.py:186-314).

    The fixture derives a change log from events (each event's
    ``removed`` = the previous event_type), seeds ``current`` with the
    latest state, and the JVM-HOF fold must reproduce exactly what a
    LAG window computes — a genuine differential check of the fold.

    Scale: one shuffle (groupBy entity); per-entity logs stay in the
    aggregation buffer — cap log length upstream (A5) for hot
    entities."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    hist = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("change_time"),
            F.array(
                F.struct(
                    F.lit("last_type").alias("field_name"),
                    F.col("event_type").alias("added"),
                    F.col("prev_type").alias("removed"),
                )
            ).alias("changes"),
        )
    )
    current = (
        dedupe_latest_per_key(ev, ["user_id"], [F.asc("event_id")])
        .select(
            "user_id",
            F.create_map(F.lit("last_type"), F.col("event_type")).alias("state"),
        )
    )
    states = replay_states(
        current,
        hist,
        entity_col="user_id",
        time_col="change_time",
        changes_col="changes",
        state_col="state",
        time_type="bigint",
    )
    return states.select(
        "user_id",
        F.col("change_time").alias("event_id"),
        F.col("state_before").getItem("last_type").alias("prev_type"),
    )


@register(
    "r02_historic_scores",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type AS status,
             CAST(CAST(FLOOR(value) AS INT) % 5 AS VARCHAR) AS sev,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS p_status,
             LAG(CAST(CAST(FLOOR(value) AS INT) % 5 AS VARCHAR))
               OVER (PARTITION BY user_id ORDER BY event_id) AS p_sev
      FROM events
    ),
    ch AS (
      SELECT user_id, event_id, p_status, p_sev FROM t
      WHERE p_status IS NOT NULL
        AND (status <> p_status OR sev <> p_sev)
    ),
    tw AS (SELECT event_type, COUNT(*) AS w FROM events GROUP BY event_type)
    SELECT c.user_id, c.event_id,
           CAST(CASE WHEN c.p_status <> 'purchase' AND c.p_sev <> '0'
                     THEN tw.w * (CAST(c.p_sev AS INT) + 1)
                     ELSE 0 END AS DOUBLE) AS score
    FROM ch c JOIN tw ON tw.event_type = c.p_status
    """,
)
def r02_historic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historic metric re-scoring composite (§3.1's last lifecycle):
    replay entity states from reverse diffs, then re-run the scoring
    expression against every reconstructed state — the reference's
    compute_historic_scores (etl/metric_changes.py:327-413: states →
    rendered scoring SQL over a temp state table → per-(bug, index)
    Decimal scores, 0 for states that don't qualify).

    Fixture framing: each user is a "bug" with TWO tracked fields —
    status (event_type; FIXED_STATES analogue = 'purchase') and
    severity (a value bucket). History entries carry PARTIAL
    change-sets (only fields that actually changed, like Bugzilla
    history), so the replay fold must merge un-applied diffs over the
    seeded current state — r01 never exercises the seed path because
    its every change-set overwrites the whole state. Scoring mirrors
    the reference's weight-dim product: a per-status weight from a
    broadcast dim (dim_bug_score analogue) × a severity modifier
    (SITE_RANK_MODIFIER analogue), zero for non-qualifying states.
    The oracle recomputes everything with LAG windows — a genuine
    differential of fold + seed + scoring glue.

    Scale: replay is one groupBy(user) fold (JVM HOFs); the weight
    dim is broadcast (k distinct statuses); no other shuffle."""
    ev = load_table(spark, sf_dir, "events")
    typed = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("status"),
        (F.floor("value").cast("int") % 5).cast("string").alias("sev"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    lagged = typed.select(
        "*",
        F.lag("status").over(w).alias("p_status"),
        F.lag("sev").over(w).alias("p_sev"),
    )
    changes = F.filter(
        F.array(
            F.struct(
                F.lit("status").alias("field_name"),
                F.col("status").alias("added"),
                F.col("p_status").alias("removed"),
            ),
            F.struct(
                F.lit("severity").alias("field_name"),
                F.col("sev").alias("added"),
                F.col("p_sev").alias("removed"),
            ),
        ),
        lambda c: c["added"] != c["removed"],
    )
    hist = (
        lagged.filter(F.col("p_status").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("change_time"),
            changes.alias("changes"),
        )
        .filter(F.size("changes") > 0)
    )
    # Seed = the genuinely-latest state: partial change-sets leave
    # un-changed fields at the seed's value during replay.
    current = dedupe_latest_per_key(
        typed, ["user_id"], [F.desc("event_id")]
    ).select(
        "user_id",
        F.create_map(
            F.lit("status"), F.col("status"), F.lit("severity"), F.col("sev")
        ).alias("state"),
    )
    states = replay_states(
        current,
        hist,
        entity_col="user_id",
        time_col="change_time",
        changes_col="changes",
        state_col="state",
        time_type="bigint",
    )
    weights = ev.groupBy("event_type").agg(F.count("*").alias("w"))
    scored = states.select(
        "user_id",
        F.col("change_time").alias("event_id"),
        F.col("state_before").getItem("status").alias("p_status"),
        F.col("state_before").getItem("severity").alias("p_sev"),
    ).join(F.broadcast(weights), F.col("event_type") == F.col("p_status"))
    score = (
        F.when(
            (F.col("p_status") != F.lit("purchase"))
            & (F.col("p_sev") != F.lit("0")),
            F.col("w") * (F.col("p_sev").cast("int") + 1),
        )
        .otherwise(F.lit(0))
        .cast("double")
    )
    return scored.select("user_id", "event_id", score.alias("score"))


@register(
    "s05_json_lines_roundtrip",
    oracle="""
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
)
def s05_json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip (S5): write_table(fmt=json,
    overwrite) then spark.read.json with an explicit schema —
    the load_table_from_json WRITE_TRUNCATE path
    (bqhelpers.py:564-593; quicksuggest2bq/main.py:130-190).
    The aggregate over the roundtripped data must match the oracle
    over the original parquet — i.e. the sink/source pair is
    lossless for these types."""
    from docker_etl_spark.sources.io import write_table

    n = load_table(spark, sf_dir, "nation")
    path = _x90_store_path("s05", sf_dir)
    write_table(n, path, mode="overwrite", fmt="json")
    back = spark.read.schema(n.schema).json(path)
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )


@register(
    "s07_csv_roundtrip",
    oracle="""
    SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def s07_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema'd scan roundtrip (S7): the pg_dump TSV scan
    with explicit schema (mozaggregator2bq/bin/pg_dump_to_parquet.py:
    104-112) and the Tranco CSV fetch (etl/siterank.py:138-150).
    Tab separator, header off, explicit schema — inference is never
    trusted at scale."""
    s = load_table(spark, sf_dir, "supplier")
    path = _x90_store_path("s07", sf_dir)
    s.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(path)
    back = spark.read.schema(s.schema).option("sep", "\t").csv(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        _dbl(F.sum(_dec("s_acctbal"))).alias("total_bal"),
    )


@register("f09_forecast_segments")
def f09_forecast_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment model fit/predict via applyInPandas (F9) — the
    FunnelForecast shape (funnel_forecast.py:75-156: one model per
    segment, parallelism across segments). Deterministic linear+DOW
    model (numpy closed form, no RNG); rows-only check: model output
    is not SQL-expressible. 7-day horizon per event_type segment over
    daily event totals."""
    from docker_etl_spark.operators.forecast import fit_predict_segments

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("ds")
    ).agg(_dbl(F.sum(_dec("value"))).alias("y"))
    return fit_predict_segments(
        daily, ["event_type"], date_col="ds", value_col="y", horizon_days=7
    )


# ---------------------------------------------------------------------------
# f10 — Holt-Winters per-segment forecasting as a JVM expression fold
# (operators/forecast.holt_winters_forecast): the ORACLE-PAIRED
# sibling of f09 (whose numpy polyfit model is rows-only by design).
# The recipe is a fixed, fully-specified additive triple smoothing —
# deterministic IEEE double arithmetic in a pinned evaluation order —
# so DuckDB replays it bit-for-bit with a recursive CTE carrying
# (l, b, seasonal-queue) state. Fixture: daily event COUNTS per
# event_type (integer-exact inputs), 14-day horizon, m=7.
# ---------------------------------------------------------------------------

_F10_A, _F10_CA = "0.5", "0.5"
_F10_B, _F10_CB = "0.1", "0.9"
_F10_G, _F10_CG = "0.2", "0.8"
_F10_LNEW = f"{_F10_A} * (ys[t + 1] - s[1]) + {_F10_CA} * (l + b)"

_F10_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT event_type AS seg, CAST(ts AS DATE) AS ds,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT seg, list(y ORDER BY ds) AS ys, MAX(ds) AS last_ds,
         COUNT(*) AS n
  FROM daily GROUP BY seg
),
init AS (
  SELECT seg, ys, last_ds, n,
         list_reduce(ys[1:7], (a, x) -> a + x) / 7 AS l0
  FROM series WHERE n >= 14
),
hw AS (
  SELECT seg, ys, last_ds, n, 0 AS t,
         l0 AS l,
         (list_reduce(ys[8:14], (a, x) -> a + x) / 7 - l0) / 7 AS b,
         list_transform(ys[1:7], x -> x - l0) AS s
  FROM init
  UNION ALL
  SELECT seg, ys, last_ds, n, t + 1,
         {_F10_LNEW},
         {_F10_B} * (({_F10_LNEW}) - l) + {_F10_CB} * b,
         list_concat(s[2:7],
           [{_F10_G} * (ys[t + 1] - ({_F10_LNEW})) + {_F10_CG} * s[1]])
  FROM hw WHERE t < n
),
fin AS (SELECT * FROM hw WHERE t = n)
SELECT seg AS event_type,
       last_ds + CAST(h.h AS INTEGER) AS ds,
       l + h.h * b + s[((h.h - 1) % 7) + 1] AS yhat
FROM fin, (SELECT unnest(range(1, 15)) AS h) h
"""


@register("f10_holt_winters_forecast", oracle=_F10_ORACLE)
def f10_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters per event_type over daily event counts —
    the JVM-fold forecasting backend under the full differential
    contract (every smoothed level/trend/seasonal bit replayed by the
    oracle's recursive CTE). See holt_winters_forecast for the 100 TB
    shape (one groupBy; parallel across segments; zero Python)."""
    from docker_etl_spark.operators.forecast import holt_winters_forecast

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("ds")
    ).agg(F.count("*").cast("double").alias("y"))
    return holt_winters_forecast(
        daily, ["event_type"], horizon_days=14,
        alpha=0.5, beta=0.1, gamma=0.2, season=7,
    )


# The stub decode is sha256-deterministic, so the oracle can replay
# it: luma = int(sha256(utf8)[:4 bytes]) / 2^32 * 255, checksummed as
# exact integers (SUM of floor(luma * 1e6) — order-independent,
# unlike avg of doubles). Valid only for the stub path: with a real
# decoder present (PIL), m01 reverts to rows-only by design.
_M01_ORACLE = """
WITH v AS (
  SELECT list_sum(list_transform(range(1, 9),
           i -> CAST(strpos('0123456789abcdef',
                            substring(substring(sha256(text), 1, 8), i, 1)) - 1
                     AS BIGINT)
                * CAST(16 ** (8 - i) AS BIGINT))) AS iv,
         CASE WHEN text LIKE 'GIF87a%' OR text LIKE 'GIF89a%' THEN 'gif'
              WHEN substring(text, 5, 4) = 'ftyp' THEN 'mp4'
              ELSE 'unknown' END AS format
  FROM documents
)
SELECT 'stub' AS decoder,
       format,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(CAST(FLOOR(iv / 4294967296.0 * 255.0 * 1000000.0) AS BIGINT))
            AS BIGINT) AS luma_checksum
FROM v GROUP BY format
"""


def _m01_oracle() -> str | None:
    from docker_etl_spark.operators.multimodal import HAVE_PIL

    return None if HAVE_PIL else _M01_ORACLE


@register("m01_media_features", oracle=_m01_oracle())
def m01_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → binary media table
    (typed meta struct) → Arrow-batched decode kernel (deterministic
    stub — no image libs in this container) → feature aggregation.
    The Spark-side contract (schema, mapInPandas batch shape,
    partitioning) is real; only the pixel decode is faked — and the
    fake is sha256-exact, so the whole Arrow round-trip is now
    ORACLE-CHECKED (byte fidelity through encode → Arrow → kernel
    digest must match DuckDB hashing the same utf-8 text). Output
    carries the (decoder, format) MIX — the magic-byte container
    census next to which codec actually handled each payload — so a
    corpus's stub rate is a visible per-format number, not a silent
    fallback (stdlib PNG and baseline-JPEG payloads decode for real;
    everything else is labelled)."""
    from docker_etl_spark.operators.multimodal import (
        decode_image_features,
        detect_media_format,
        media_table_from_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    media = media_table_from_documents(d, kind="image")
    feats = decode_image_features(media).withColumn(
        "format", detect_media_format("content")
    )
    return feats.groupBy("decoder", "format").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum(F.floor(F.col("mean_luma") * 1e6).cast("bigint"))
        .cast("bigint")
        .alias("luma_checksum"),
    )


@register(
    "x13_ivf_cosine_topk",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e
        WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id % 100 = 0),
    scored_a AS (
        SELECT n.vec_id, n.v, n.nrm, cent.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i])) AS DOUBLE)
                          / sqrt(CAST(n.nrm * cent.cn AS DOUBLE)) DESC, cent.cid ASC
               ) AS rn
        FROM n, cent
    ),
    assigned AS (SELECT vec_id, v, nrm, cell FROM scored_a WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell
        FROM scored_a WHERE vec_id < 5 AND rn <= 2
    ),
    pairs AS (
        SELECT DISTINCT p.query_id, a.vec_id AS corpus_id,
               CAST(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.v[i])) AS DOUBLE)
                   / sqrt(CAST(p.qn * a.nrm AS DOUBLE)) AS cosine
        FROM probes p JOIN assigned a USING (cell)
        WHERE a.vec_id != p.query_id
    )
    SELECT query_id, corpus_id, cosine FROM pairs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) <= 3
    """,
)
def x13_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-3 (the scale path beside x11's sign-LSH):
    seeded centroids (every 100th vector), top-1 cell assignment,
    2-cell probe, exact int-quantized cosine within candidates.
    Broadcast centroids → the corpus never cross-joins."""
    from docker_etl_spark.operators.similarity import ivf_topk

    em = load_table(spark, sf_dir, "embeddings")
    ivec = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), ivec.alias("vec"))
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), ivec.alias("vec")
    )
    cent = em.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("centroid_id"), ivec.alias("vec")
    )
    return ivf_topk(q, c, cent, k=3, nprobe=2, exact_int=True, broadcast_probes=True)


@register(
    "h01_histogram_algebra",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(FLOOR(value / 50) AS INT) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_at0,
           CAST(COUNT(DISTINCT CAST(FLOOR(value / 50) AS INT)) AS INT) AS n_nz_buckets,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM events GROUP BY user_id
    """,
)
def h01_histogram_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-histogram algebra end-to-end (§1.1 Histogram, F2/A10):
    per (user, day) sparse map<int,bigint> histograms, longitudinal
    per-user reduce via hist_sum_maps (map_zip_with fold — no
    densify, no extra shuffle), then the reference's temp-UDF
    reducers (count_at0, enum_nz). The oracle recomputes the
    reductions directly from rows — the map algebra must agree.

    Scale: two hash aggregations; histograms stay sparse maps
    throughout (the reference's ~50-100x dense-blowup lesson,
    out_of_date_details.sql:28-36)."""
    from docker_etl_spark.functions.histograms import (
        hist_count_at0,
        hist_enum_nz,
        hist_sum_maps,
    )

    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("int")
    per_day = (
        ev.select(
            "user_id", F.col("ts").cast("date").alias("day"), bucket.alias("bucket")
        )
        .groupBy("user_id", "day", "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy("user_id", "day")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bucket", "c")))
            ).alias("day_hist")
        )
    )
    longitudinal = per_day.groupBy("user_id").agg(
        F.collect_list("day_hist").alias("day_hists")
    )
    hist = longitudinal.select(
        "user_id", hist_sum_maps(F.col("day_hists")).alias("hist")
    )
    return hist.select(
        "user_id",
        hist_count_at0("hist").cast("bigint").alias("n_at0"),
        F.size(hist_enum_nz("hist")).cast("int").alias("n_nz_buckets"),
        F.aggregate(
            F.map_values(F.col("hist")), F.lit(0).cast("bigint"), lambda a, v: a + v
        ).alias("total"),
    )


# ---------------------------------------------------------------------------
# c01 — catalog view-DAG lifecycle (§3.1): the same templated view
# texts deploy as a Spark temp-view chain AND assemble into the
# oracle's WITH chain, so the catalog layer itself is differentially
# checked, not just the final plan.
# ---------------------------------------------------------------------------

_C01_VIEWS: list[tuple[str, str]] = [
    (
        "scored_orders",
        """SELECT o_custkey,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS price,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 2 ELSE 1 END AS weight
           FROM {{ ref('orders_base') }}""",
    ),
    (
        "segment_revenue",
        """SELECT c.c_mktsegment AS segment,
                  SUM(s.price * s.weight) AS rev_dec,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM {{ ref('scored_orders') }} s
           JOIN {{ ref('customer_base') }} c ON c.c_custkey = s.o_custkey
           GROUP BY c.c_mktsegment""",
    ),
    (
        "topline",
        """SELECT segment,
                  CAST(rev_dec AS DOUBLE) AS revenue,
                  n_orders,
                  CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE)
                      AS revenue_share
           FROM {{ ref('segment_revenue') }}""",
    ),
]


def _c01_oracle() -> str:
    """Assemble the oracle WITH-chain from the SAME view texts."""
    import re

    def resolve(sql: str) -> str:
        return re.sub(
            r"\{\{\s*ref\(\s*['\"](\w+)['\"]\s*\)\s*\}\}",
            lambda m: {"orders_base": "orders", "customer_base": "customer"}.get(
                m.group(1), m.group(1)
            ),
            sql,
        )

    ctes = ",\n".join(f"{name} AS ({resolve(sql)})" for name, sql in _C01_VIEWS[:-1])
    return f"WITH {ctes}\n{resolve(_C01_VIEWS[-1][1])}"


@register("c01_catalog_view_dag", oracle=_c01_oracle())
def c01_catalog_view_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The webcompat-kb catalog lifecycle end-to-end (§3.1): TOML/
    Jinja-style templated views with {{ ref() }} dependency edges →
    topological deploy as a temp-view chain → query the top view
    (projectdata.py:295-420; bqhelpers.py create_view). The oracle
    runs the *same view texts* as a CTE chain — the render/deploy
    machinery is what's under test.

    Scale: views are logical — Catalyst inlines and optimizes across
    the whole chain exactly as if hand-written (the join broadcasts,
    the aggregate runs partial+final)."""
    from docker_etl_spark.plans.catalog import Project

    proj = Project(
        spark,
        base_tables={
            "orders_base": load_table(spark, sf_dir, "orders"),
            "customer_base": load_table(spark, sf_dir, "customer"),
        },
        prefix="c01_",
    )
    for name, sql in _C01_VIEWS:
        proj.add_view(name, sql)
    proj.deploy()
    return proj.table("topline")


# ---------------------------------------------------------------------------
# c02 — file-driven project catalog (§3.1): TOML table schemas + SQL
# view/routine templates loaded from an on-disk project directory
# (projectdata.py:518-563 load_templates; update_schema.py:60-230
# render + topological deploy), deployed as typed temp views + SQL
# UDFs, queried through the top of the cross-dataset DAG. The oracle
# is the hand-expanded equivalent (routine inlined, refs resolved) —
# what's under test is the loader/renderer/deployer.
# ---------------------------------------------------------------------------

_C02_ORACLE = """
WITH enriched AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(o_orderdate AS DATE) AS order_date,
         CAST(substring(o_orderpriority, 1, 1) AS INT) AS priority_rank
  FROM orders
)
SELECT priority_rank, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       MIN(order_date) AS first_order_date,
       MAX(order_date) AS last_order_date
FROM enriched
GROUP BY priority_rank, o_orderstatus
ORDER BY priority_rank, o_orderstatus
"""


@register("c02_project_from_files", oracle=_C02_ORACLE)
def c02_project_from_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based project catalog end-to-end: load fixtures/
    demo_project (two datasets, TOML table schemas incl. RECORD/
    REPEATED, a SQL routine, cross-dataset qualified refs), bind the
    declared table to the orders scan, deploy, query the rollup.

    Scale: identical to c01 — everything deployed is logical (temp
    views + Catalyst-inlined SQL UDFs), so the final plan is the
    same partial+final aggregate over the parquet scan that a
    hand-written query would produce."""
    from pathlib import Path

    from docker_etl_spark.plans.projectdata import FileProject

    root = Path(__file__).resolve().parent.parent / "fixtures" / "demo_project"
    proj = FileProject(
        spark,
        root,
        table_bindings={
            "analytics.priority_orders": load_table(spark, sf_dir, "orders")
        },
        prefix="c02_",
    )
    proj.deploy()
    return proj.table("reporting.priority_rollup").orderBy(
        "priority_rank", "o_orderstatus"
    )


@register(
    "c03_metric_template_loop",
    oracle=f"""
    SELECT o_orderstatus,
           {metric_select_sql(_ORDER_METRICS)}
    FROM orders GROUP BY o_orderstatus
    """,
)
def c03_metric_template_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-generated metric VIEW in the file catalog: the view
    template holds a ``{{% for m in metrics %}}`` loop that expands
    against the metric registry at render time — the reference's
    metric-view generation (webcompat_kb/metrics/metrics.py:196-216:
    Jinja loops over metric_types splice each metric's agg_function
    into the view body). Same _ORDER_METRICS registry as a03, so the
    file-template surface and the Column surface provably share one
    metric definition; the oracle is generated from it too.

    Scale: the deployed view is logical — the final plan is the same
    single hash aggregate a03 plans."""
    from pathlib import Path

    from docker_etl_spark.plans.projectdata import FileProject

    root = (
        Path(__file__).resolve().parent.parent
        / "fixtures"
        / "demo_metrics_project"
    )
    proj = FileProject(
        spark,
        root,
        table_bindings={
            "metricsdemo.scored_orders": load_table(spark, sf_dir, "orders")
        },
        prefix="c03_",
        template_context={"metrics": _ORDER_METRICS},
    )
    proj.deploy()
    return proj.table("metricsdemo.status_metrics").orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# f03 — user-story DSL parse (F1; etl/bugzilla.py:407-433): key:value
# lines → map<string,array<string>> as one JVM fold. The story text
# is synthesized identically in both engines from orders columns
# (repeated key, colon-bearing value, no-colon line, blank line,
# empty key) so the differential check exercises every parser rule.
# ---------------------------------------------------------------------------

_F03_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
         'platform:' || o_orderstatus || chr(10) ||
         'no colon line' || chr(10) ||
         'impact:' || o_orderpriority || chr(10) ||
         chr(10) ||
         'impact:rest:with:colons' || chr(10) ||
         ':' || o_orderstatus AS story
  FROM orders
  WHERE o_orderkey % 10 = 0
),
parts AS (
  SELECT o_orderkey, string_split(story, chr(10)) AS ls FROM src
),
lines AS (
  SELECT o_orderkey,
         unnest(ls) AS line,
         generate_subscripts(ls, 1) AS idx
  FROM parts
),
kv AS (
  SELECT o_orderkey, idx,
         substr(line, 1, strpos(line, ':') - 1) AS story_key,
         substr(line, strpos(line, ':') + 1) AS story_value
  FROM lines
  WHERE strpos(line, ':') > 0
)
SELECT o_orderkey, story_key,
       string_agg(story_value, '|' ORDER BY idx) AS story_values
FROM kv
GROUP BY o_orderkey, story_key
ORDER BY o_orderkey, story_key
"""


@register("f03_user_story_parse", oracle=_F03_ORACLE)
def f03_user_story_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the synthesized story DSL and explode the resulting map
    to (key, joined-values) rows for order-insensitive hashing.

    Scale: the parser is a single whole-stage-codegen expression per
    row — no shuffle beyond the final orderBy, no Python."""
    from docker_etl_spark.functions.scalars import parse_user_story

    orders = load_table(spark, sf_dir, "orders")
    story = F.concat_ws(
        "\n",
        F.concat(F.lit("platform:"), F.col("o_orderstatus")),
        F.lit("no colon line"),
        F.concat(F.lit("impact:"), F.col("o_orderpriority")),
        F.lit(""),
        F.lit("impact:rest:with:colons"),
        F.concat(F.lit(":"), F.col("o_orderstatus")),
    )
    parsed = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", story.alias("story"))
        .select("o_orderkey", parse_user_story("story").alias("m"))
    )
    return (
        parsed.select(
            "o_orderkey",
            F.explode("m").alias("story_key", "vals"),
        )
        .select(
            "o_orderkey",
            "story_key",
            F.array_join("vals", "|").alias("story_values"),
        )
        .orderBy("o_orderkey", "story_key")
    )


@register(
    "an01_search_anomaly_rules",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value
      FROM events GROUP BY 1, 2
    ),
    feats AS (
      SELECT event_type, day, value,
             LAG(value, 1) OVER w AS value_prev1d,
             value / LAG(value, 1) OVER w AS dod,
             value / LAG(value, 7) OVER w AS wow,
             value / SUM(value) OVER (PARTITION BY day) AS pcnt_value,
             dayofweek(day) AS dow
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, value, dod, wow,
           CASE
             WHEN value_prev1d > 100 AND pcnt_value > 0.3 AND dod < 0.5 THEN 'severe_drop'
             WHEN value_prev1d > 100 AND dod < 0.8 AND dow BETWEEN 1 AND 5 THEN 'weekday_drop'
             WHEN wow < 0.7 THEN 'wow_drop'
             WHEN dod > 2.0 THEN 'spike'
             ELSE 'normal'
           END AS severity
    FROM feats
    """,
)
def an01_search_anomaly_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-alert anomaly detection end-to-end (W4/W5 + the
    first-match rule chain): daily totals → lag/ratio features (dod,
    wow, share-of-day) → ordered severity conditions exactly like the
    reference's np.select rule list (search_alert/main.py:195-231
    features, 244-260 conditions: magnitude guard + share guard +
    ratio threshold + weekday gate).

    Cross-engine notes: features divide doubles derived from exact
    decimal sums; Spark dayofweek is 1=Sunday..7 vs DuckDB 0..6, so
    the weekday gate offsets by one. One shuffle for the daily
    aggregate; both windows repartition by small keys."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(_dbl(F.sum(_dec("value"))).alias("value"))
    w = Window.partitionBy("event_type").orderBy("day")
    wd = Window.partitionBy("day")
    feats = daily.select(
        "event_type",
        "day",
        "value",
        F.lag("value", 1).over(w).alias("value_prev1d"),
        (F.col("value") / F.lag("value", 1).over(w)).alias("dod"),
        (F.col("value") / F.lag("value", 7).over(w)).alias("wow"),
        (F.col("value") / F.sum("value").over(wd)).alias("pcnt_value"),
        F.dayofweek("day").alias("dow"),  # 1=Sunday..7
    )
    severity = (
        F.when(
            (F.col("value_prev1d") > 100)
            & (F.col("pcnt_value") > 0.3)
            & (F.col("dod") < 0.5),
            "severe_drop",
        )
        .when(
            (F.col("value_prev1d") > 100)
            & (F.col("dod") < 0.8)
            & F.col("dow").between(2, 6),  # Mon..Fri
            "weekday_drop",
        )
        .when(F.col("wow") < 0.7, "wow_drop")
        .when(F.col("dod") > 2.0, "spike")
        .otherwise("normal")
    )
    return feats.select(
        "event_type", "day", "value", "dod", "wow", severity.alias("severity")
    )


@register(
    "gd01_dashboard_union",
    oracle="""
    WITH latest_per_user_day AS (
      SELECT * FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, CAST(ts AS DATE)
                 ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT 'by_type' AS output, 'event_type' AS dimension, event_type AS key,
           CAST(NULL AS VARCHAR) AS subkey, CAST(COUNT(*) AS DOUBLE) AS value
    FROM latest_per_user_day GROUP BY event_type
    UNION ALL
    SELECT 'by_day', 'day', CAST(day AS VARCHAR), CAST(NULL AS VARCHAR), CAST(COUNT(*) AS DOUBLE)
    FROM latest_per_user_day GROUP BY day
    UNION ALL
    SELECT 'by_type_day', 'cross', event_type, CAST(day AS VARCHAR),
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
    FROM latest_per_user_day GROUP BY event_type, day
    UNION ALL
    SELECT 'session_count', 'count', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(COUNT(*) AS DOUBLE)
    FROM latest_per_user_day
    """,
)
def gd01_dashboard_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graphics-dashboard output shape (§3.2): windowed dedup (one
    ping per client, W1) → per-output aggregate CTEs → N-way UNION ALL
    into long (output, dimension, key, subkey, value) rows
    (graphics_dashboard.sql:164-169 dedup, 671-684 13-way union).

    Spark-first: the dedup'd frame is computed once and fanned into
    unionByName branches; Catalyst reuses the exchange under AQE. The
    long format is what lets the driver-side reshape stay KB-scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.col("ts").cast("date")
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        ev.withColumn("day", F.col("ts").cast("date"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    s = F.lit(None).cast("string")

    def shape(output: str, dimension: str, key, subkey, value) -> DataFrame:
        return (
            F.lit(output).alias("output"),
            F.lit(dimension).alias("dimension"),
            key.alias("key"),
            subkey.alias("subkey"),
            value.cast("double").alias("value"),
        )

    by_type = latest.groupBy("event_type").agg(F.count("*").alias("n")).select(
        *shape("by_type", "event_type", F.col("event_type"), s, F.col("n"))
    )
    by_day = latest.groupBy("day").agg(F.count("*").alias("n")).select(
        *shape("by_day", "day", F.col("day").cast("string"), s, F.col("n"))
    )
    by_cross = (
        latest.groupBy("event_type", "day")
        .agg(_dbl(F.sum(_dec("value"))).alias("v"))
        .select(
            *shape(
                "by_type_day",
                "cross",
                F.col("event_type"),
                F.col("day").cast("string"),
                F.col("v"),
            )
        )
    )
    total = latest.agg(F.count("*").alias("n")).select(
        *shape("session_count", "count", s, s, F.col("n"))
    )
    return by_type.unionByName(by_day).unionByName(by_cross).unionByName(total)


@register(
    "lo01_longitudinal_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
             SUM(CAST(value AS DECIMAL(12,2))) AS tv
      FROM events GROUP BY user_id
    ),
    staged AS (
      SELECT user_id,
             CASE WHEN n_purch > 0 THEN 'purchaser'
                  WHEN n_err > 10 THEN 'error_prone'
                  WHEN n_events >= 80 THEN 'power_user'
                  ELSE 'casual' END AS stage,
             tv
      FROM per_user
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(tv) AS DOUBLE) AS total_value
    FROM staged GROUP BY stage
    """,
)
def lo01_longitudinal_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The update-orphaning longitudinal lifecycle (§3 / A5+A11+F6):
    per-client ordered event arrays (ARRAY_AGG ... LIMIT 1000,
    out_of_date_details.sql:141-179) → per-client short-circuit
    funnel classification evaluated over the ARRAY with HOFs
    (exists/filter — the reference's Python funnel mappers,
    processing.py:154-307) → stage Counter (countByKey port).

    The oracle computes stages directly from rows, so the
    collect→HOF path must reproduce plain aggregate semantics — a
    real differential of the longitudinal formulation. The exact-
    decimal fold makes the per-user sum order-independent; the 1000
    cap exceeds the fixture's max (99 events/user), so capping never
    changes results here.

    Scale: one shuffle (groupBy user); per-user arrays bounded by the
    cap — hot entities are exactly what the cap is for."""
    ev = load_table(spark, sf_dir, "events")
    packed = F.struct(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("et"),
        F.col("value").alias("v"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.slice(
            F.reverse(F.sort_array(F.collect_list(packed))), 1, 1000
        ).alias("evts")
    )
    evts = F.col("evts")
    tv = F.aggregate(
        evts,
        F.lit(0).cast("decimal(32,2)"),
        lambda a, e: (a + e["v"].cast("decimal(12,2)")).cast("decimal(32,2)"),
    )
    stage = (
        F.when(F.exists(evts, lambda e: e["et"] == "purchase"), "purchaser")
        .when(F.size(F.filter(evts, lambda e: e["et"] == "error")) > 10, "error_prone")
        .when(F.size(evts) >= 80, "power_user")
        .otherwise("casual")
    )
    staged = per_user.select(
        "user_id", stage.alias("stage"), tv.alias("tv")
    )
    return staged.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        _dbl(F.sum("tv")).alias("total_value"),
    )


@register(
    "v01_variant_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum
    FROM events GROUP BY 1
    """,
)
def v01_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns via Spark 4 VARIANT (§1.2 JSON row):
    parse_json once, typed try_variant_get paths — the engine's
    answer to BigQuery JSON columns (graphics_dashboard.sql:138-148
    JSON_VALUE/JSON_QUERY_ARRAY) with a binary-encoded, predicate-
    pushable representation instead of per-access string re-parsing.
    The oracle uses DuckDB's json_extract on the same column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )


@register(
    "p05_sampling_predicate",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    GROUP BY event_type
    """,
)
def p05_sampling_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling predicate (P5): the reference's
    ``sample_id = 42`` / ``sample_id < @count`` bucket filters
    (out_of_date_details.sql:121; graphics_dashboard.sql:155) on data
    without a precomputed sample_id — derive it by hashing the entity
    id. md5-hex → int is engine-portable (the production operator
    uses xxhash64: one fused JVM op, same semantics —
    scalars.deterministic_order_key).

    Scale: the predicate is a pure row-local expression → evaluated
    at the scan, no shuffle; with a materialized sample_id column it
    becomes a partition/bucket prune."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    return (
        ev.filter(bucket < 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "sq01_parameterized_sql",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_totalprice > 150000.0
    GROUP BY o_orderpriority
    """,
)
def sq01_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL execution (S1): the reference's
    ScalarQueryParameter binds (graphics_dashboard/common.py:50-73
    @end_date/@time_window) as Spark named parameters —
    ``spark.sql(sql, args={...})`` keeps the text injectable-free and
    the literals foldable (params constant-fold into pushable
    predicates; the date filter reaches PushedFilters)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sq01_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM sq01_orders
        WHERE o_orderdate >= :start_date AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={
            "start_date": "1996-01-01 00:00:00",
            "min_price": 150000.0,
        },
    ).withColumn("n_orders", F.col("n_orders").cast("bigint"))


# The stub model is exp-free (rational sigmoid — basic IEEE ops
# only), so the oracle replays the identical formula: the Arrow
# batching, schema, and round-trip are differentially checked. A
# production remote model stays rows-only by nature; the SEAM is
# what this verifies.
_I01_ORACLE = """
WITH s AS (
  SELECT -3.0 + 0.002 * CAST(length(text) AS DOUBLE)
         + 0.8 * CAST(length(text) - length(replace(text, '!', ''))
                      AS DOUBLE) AS z
  FROM documents
),
p AS (SELECT 0.5 * (1.0 + z / (1.0 + abs(z))) AS pr FROM s)
SELECT CAST(FLOOR(pr * 10) AS INT) AS prob_decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM p GROUP BY 1
"""


@register("i01_batched_inference", oracle=_I01_ORACLE)
def i01_batched_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched model scoring via mapInPandas (F8) — the
    broken-site-report-ml classifier pattern (one model/HTTP call per
    Arrow batch; deterministic exp-free local stub here, so the whole
    Arrow seam is oracle-checked). Scores bucket into a triage
    histogram, the job's real output shape."""
    from docker_etl_spark.operators._util import spread_for_compute
    from docker_etl_spark.operators.inference import batched_inference

    # Prune to the model-input column before the Arrow stage: every
    # column kept here crosses the JVM->Python->JVM Arrow boundary
    # twice, and the downstream agg only needs the score.
    d = spread_for_compute(load_table(spark, sf_dir, "documents").select("text"))
    scored = batched_inference(d, "text", score_col="break_prob")
    return (
        scored.groupBy(
            F.floor(F.col("break_prob") * 10).cast("int").alias("prob_decile")
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# x14-x19 — training-corpus pipeline stages (operators/corpus.py):
# Gopher-style repetition + quality gates, greedy sequence packing,
# eval-set contamination, PII redaction, passage-level dedup. All
# pure JVM expressions; every double is one IEEE division of exact
# ints, so the DuckDB oracles hash-match (module docstring rules).
# ---------------------------------------------------------------------------

_X14_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
         list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
  FROM tok
),
tf AS (
  SELECT doc_id, max(c) AS max_tok FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(w) AS t FROM g) GROUP BY doc_id, t
  ) GROUP BY doc_id
),
g2f AS (
  SELECT doc_id, max(c) AS max_g2 FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS t FROM g) GROUP BY doc_id, t
  ) GROUP BY doc_id
)
SELECT g.doc_id,
       len(w) AS n_tokens,
       CASE WHEN len(g2) > 0
            THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
       END AS dup_2gram_frac,
       CASE WHEN len(g3) > 0
            THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
       END AS dup_3gram_frac,
       CASE WHEN len(w) > 0
            THEN CAST(tf.max_tok AS DOUBLE) / len(w)
       END AS top_token_frac,
       CASE WHEN len(g2) > 0
            THEN CAST(g2f.max_g2 AS DOUBLE) / len(g2)
       END AS top_2gram_frac
FROM g LEFT JOIN tf USING (doc_id) LEFT JOIN g2f USING (doc_id)
"""


@register("x14_repetition_features", oracle=_X14_ORACLE)
def x14_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document (duplicate
    2/3-gram fractions, top-token / top-bigram mass). The Spark side
    computes top frequency as a longest-run fold over the sorted
    n-gram array (no shuffle); the oracle counts via unnest+GROUP BY
    — method-independent equality."""
    from docker_etl_spark.operators.corpus import repetition_features

    d = load_docs_spread(spark, sf_dir)
    feats = repetition_features(F.col("text"))
    return d.select(
        "doc_id", *[c.alias(name) for name, c in feats.items()]
    )


_X15_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
f AS (
  SELECT doc_id,
         len(w) AS n_words,
         CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
             / len(w) AS mean_word_len,
         CAST(len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$')))
              AS DOUBLE) / len(w) AS alpha_frac,
         len(list_filter(
             w, t -> list_contains(
                 ['the','a','of','to','and','in','is','for'], t)))
             AS n_stopwords
  FROM tok
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
       (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
       (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
       (alpha_frac >= 0.8) AS ok_alpha_frac,
       (n_stopwords >= 2) AS ok_stopwords,
       ((n_words >= 20 AND n_words <= 100000)
        AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
        AND alpha_frac >= 0.8 AND n_stopwords >= 2) AS keep
FROM f
"""


@register("x15_quality_filter", oracle=_X15_ORACLE)
def x15_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality gate: word-count band, mean word
    length band, alphabetic-word fraction, stopword evidence — the
    measured features, one boolean per rule, and the keep verdict."""
    from docker_etl_spark.operators.corpus import gopher_quality

    d = load_docs_spread(spark, sf_dir)
    feats = gopher_quality(F.col("text"))
    return d.select(
        "doc_id", *[c.alias(name) for name, c in feats.items()]
    )


_X16_BUDGET = 256

_X16_ORACLE = f"""
WITH RECURSIVE tok AS (
  SELECT lang, doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
ordered AS (
  SELECT lang, doc_id, tok,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM tok
),
packed AS (
  SELECT lang, doc_id, tok, rn,
         CAST(0 AS BIGINT) AS pack_id, tok AS used
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.tok, o.rn,
         CASE WHEN p.used + o.tok > {_X16_BUDGET}
              THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.used + o.tok > {_X16_BUDGET}
              THEN o.tok ELSE p.used + o.tok END
  FROM packed p JOIN ordered o ON o.lang = p.lang AND o.rn = p.rn + 1
)
SELECT lang, doc_id, tok, pack_id FROM packed
"""


@register("x16_pack_sequences", oracle=_X16_ORACLE)
def x16_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-in-order sequence packing of documents into
    256-token context windows, per language (LLM pretraining batch
    prep). Spark runs the greedy fold as one collect_list+aggregate
    expression per group; the oracle replays it as a recursive CTE —
    identical deterministic pack assignment."""
    from docker_etl_spark.operators.corpus import doc_tokens, pack_sequences

    d = load_docs_spread(spark, sf_dir).select(
        "lang",
        "doc_id",
        F.size(doc_tokens("text")).cast("long").alias("tok"),
    )
    return pack_sequences(
        d, budget=_X16_BUDGET, id_col="doc_id", token_col="tok",
        group_col="lang",
    )


_X17_ORACLE = """
WITH bench AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 41 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM bench
),
csh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM corpus)
),
bsh AS (
  SELECT DISTINCT unnest(s) AS sh FROM (
    SELECT list_distinct(list_transform(
               range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
    FROM (SELECT string_split(lower(text), ' ') AS w FROM bench)
  )
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM (SELECT doc_id, unnest(s) AS sh FROM csh) t
  JOIN bsh USING (sh) GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(c.s) AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN len(c.s) > 0
            THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / len(c.s)
       END AS contamination_frac
FROM csh c LEFT JOIN hits h USING (doc_id)
"""


@register("x17_contamination", oracle=_X17_ORACLE)
def x17_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination check: per-document fraction of
    distinct word 3-grams that occur anywhere in a benchmark set
    (docs with doc_id % 41 == 0). The corpus is augmented with exact
    copies of the benchmark docs (id + 1_000_000) so the check must
    flag them at frac = 1.0 — a built-in recall assertion. The
    benchmark n-gram set is broadcast; corpus side never wide-shuffles."""
    from docker_etl_spark.operators.corpus import contamination_check

    d = load_docs_spread(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    corpus = (
        d.filter(F.col("doc_id") % 41 != 0)
        .select("doc_id", "text")
        .unionByName(
            bench.select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return contamination_check(corpus, bench, n=3)


_X18_PLANT_SQL_DUCK = """
  text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' call +1 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
          ELSE '' END
"""

_X18_ORACLE = f"""
WITH planted AS (
  SELECT doc_id, {_X18_PLANT_SQL_DUCK} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(
           t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
           AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(
           t, '\\+\\d{{1,2}}[- ]\\d{{3}}[- ]\\d{{4}}')) AS BIGINT)
           AS n_phones,
       CAST(len(regexp_extract_all(
           t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
           AS BIGINT) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
             '<EMAIL>', 'g'),
           '\\+\\d{{1,2}}[- ]\\d{{3}}[- ]\\d{{4}}', '<PHONE>', 'g'),
         '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
         '<IP>', 'g') AS clean_text
FROM planted
"""


@register("x18_pii_redact", oracle=_X18_ORACLE)
def x18_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, phone numbers, IPv4) over
    deterministically planted PII (the fixture corpus has none, so
    matches are synthesized from doc_id — same planting in the
    oracle). Patterns use only Java-regex/RE2-shared syntax."""
    from docker_etl_spark.operators.corpus import pii_features

    d = load_docs_spread(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call +1 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(""),
        ).alias("t"),
    )
    feats = pii_features(F.col("t"))
    return planted.select(
        "doc_id",
        feats["n_emails"].alias("n_emails"),
        feats["n_phones"].alias("n_phones"),
        feats["n_ips"].alias("n_ips"),
        feats["clean_text"].alias("clean_text"),
    )


_X19_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(
             range(0, CAST(ceil(len(w) / 10.0) AS INT)),
             i -> md5(array_to_string(
                      list_slice(w, i * 10 + 1, i * 10 + 10), ' '))))
             AS chunk_md5
  FROM tok
),
cnt AS (
  SELECT chunk_md5, count(*) AS n FROM ch GROUP BY chunk_md5
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
           AS dup_chunk_frac
FROM ch JOIN cnt USING (chunk_md5)
GROUP BY doc_id
"""


@register("x19_passage_dedup", oracle=_X19_ORACLE)
def x19_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: non-overlapping 10-token chunks,
    md5 digests, count-then-join-back on the digest — per-document
    duplicated-passage fraction (sub-document boilerplate/copy
    detection that whole-doc hashing misses)."""
    from docker_etl_spark.operators.corpus import passage_dup_stats

    d = load_docs_spread(spark, sf_dir)
    return passage_dup_stats(d, chunk_tokens=10)


# ---------------------------------------------------------------------------
# j16 — as-of (point-in-time) join: purchase attribution for clicks.
# The oracle is DuckDB's native ASOF JOIN — the engine's union+window
# plan must reproduce it exactly. Timestamps are second-truncated on
# both sides (ns-vs-us gotcha) and purchases deduped to one row per
# (user, second) so the as-of pick is deterministic; the gap is
# calendar timestampdiff (no epoch/timezone arithmetic).
# ---------------------------------------------------------------------------

_J16_ORACLE = """
WITH p0 AS (
  SELECT user_id, date_trunc('second', ts) AS tsec, event_id, value,
         row_number() OVER (
             PARTITION BY user_id, date_trunc('second', ts)
             ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'purchase'
),
p AS (
  SELECT user_id, tsec,
         event_id AS purchase_event_id, value AS purchase_value
  FROM p0 WHERE rn = 1
),
c AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS tsec
  FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, p.purchase_event_id, p.purchase_value,
       CAST(date_diff('second', p.tsec, c.tsec) AS BIGINT) AS gap_seconds
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.tsec >= p.tsec
"""


@register("j16_asof_attribution", oracle=_J16_ORACLE)
def j16_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup): each click attributed to
    the same user's most recent purchase at or before it. Engine
    plan: tag + union + one window pass per user (single shuffle) —
    never a non-equi nested loop; oracle: DuckDB native ASOF JOIN."""
    from docker_etl_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    tsec = F.date_trunc("second", F.col("ts"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            tsec.alias("tsec"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("purchase_value"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id", "tsec").orderBy(
                    "purchase_event_id"
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", tsec.alias("ctsec")
    )
    joined = asof_join(
        c,
        p,
        on=["user_id"],
        left_ts="ctsec",
        right_ts="tsec",
        right_cols=["purchase_event_id", "purchase_value", "tsec"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "purchase_event_id",
        "purchase_value",
        F.expr("timestampdiff(SECOND, tsec, ctsec)")
        .cast("bigint")
        .alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# x20 — near-dup clustering: pairs → connected components → keep/drop.
# The oracle reuses x09's hash-independent exact-Jaccard pair set as a
# CTE and computes each node's min reachable id by recursive
# transitive closure; the engine must produce identical clusters from
# its iterative min-label propagation over the same (minhash) pairs.
# ---------------------------------------------------------------------------

_X20_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _X09_ORACLE
    + """
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT e.u AS node, r.r FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
)
SELECT node AS doc_id, cluster_id, (node = cluster_id) AS is_kept
FROM comp
"""
)


@register("x20_dedup_clusters", oracle=_X20_ORACLE)
def x20_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: near-dup pairs (x09's production
    minhash+LSH config) clustered into connected components by
    iterative min-label propagation; one keeper (the min doc_id) per
    cluster. Docs with no near-dup don't appear (nothing to drop)."""
    from docker_etl_spark.operators.dedupe import connected_components
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, num_perm=64, bands=8, threshold=0.5, hash_fn="xxhash64"
    ).select("id_a", "id_b")
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# g03 — hypertable-style rollup cascade (re-aggregation algebra).
# Raw events are aggregated ONCE at 5-minute grain; hourly and daily
# grains re-aggregate the next-finer pre-aggregate (sum-of-sums,
# sum-of-counts, min-of-mins, max-of-maxes; avg derived at the edge).
# At 100 TB this is the continuous-aggregate pattern: one pass over
# raw data, every coarser resolution from the materialized fine
# grain. The oracle computes the daily grain directly from raw rows —
# green means the algebra is exactly lossless (decimal sums are
# order- and nesting-independent).
# ---------------------------------------------------------------------------

_G03_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS avg_value
FROM events GROUP BY 1, 2
"""


@register("g03_rollup_cascade", oracle=_G03_ORACLE)
def g03_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5min → hour → day rollup cascade over pre-aggregates; the
    oracle aggregates raw→day directly, pinning the re-aggregation
    algebra as lossless."""
    ev = load_table(spark, sf_dir, "events")
    fine = ev.groupBy(
        F.window("ts", "300 seconds").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(_dec("value")).alias("sum_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).select(
        F.col("w.start").alias("bucket"), "event_type", "n", "sum_dec",
        "min_value", "max_value",
    )
    hourly = fine.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return daily.select(
        "day",
        "event_type",
        "n",
        _dbl(F.col("sum_dec")).alias("total_value"),
        "min_value",
        "max_value",
        (_dbl(F.col("sum_dec")) / F.col("n").cast("double")).alias(
            "avg_value"
        ),
    )


# ---------------------------------------------------------------------------
# w08 — batch gap sessionization (the batch twin of
# streaming/core.sessionize_with_state; one shuffle on user_id).
# ---------------------------------------------------------------------------

_W08_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         make_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000) AS tsec
  FROM events
),
flagged AS (
  SELECT user_id, event_id, tsec,
         CASE WHEN lag(tsec) OVER w IS NULL
                   OR date_diff('second', lag(tsec) OVER w, tsec) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
),
numbered AS (
  SELECT user_id, tsec,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       MIN(tsec) AS session_start,
       MAX(tsec) AS session_end,
       COUNT(*) AS n_events,
       CAST(date_diff('second', MIN(tsec), MAX(tsec)) AS BIGINT)
           AS duration_seconds
FROM numbered GROUP BY 1, 2
"""


@register("w08_sessionization", oracle=_W08_ORACLE)
def w08_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-minute
    inactivity closes a session). Timestamps truncate to whole
    seconds before gap arithmetic so the session boundaries are
    integer-exact in any engine."""
    from docker_etl_spark.operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events")
    out = sessionize(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        gap_seconds=1800,
        order_tiebreak=["event_id"],
    )
    return out.select(
        "user_id",
        F.col("session_idx").cast("bigint").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        "duration_seconds",
    )


# ---------------------------------------------------------------------------
# x21 — domain-weighted mixture sampling (training data recipe).
# The md5-hex-threshold draw is a pure string compare, so the oracle
# reselects the identical rows — membership is pinned by the id_sum
# checksum, not just counts.
# ---------------------------------------------------------------------------

_X21_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}
_X21_DEFAULT = 0.1


def _hex_threshold(rate: float) -> str:
    r = min(max(rate, 0.0), 1.0)
    return format(int(r * 0xFFFFFFFF), "08x")


_X21_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_sampled,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'mix'), 1, 8) <
      CASE source
        WHEN 'src0' THEN '{_hex_threshold(1.0)}'
        WHEN 'src1' THEN '{_hex_threshold(0.5)}'
        WHEN 'src2' THEN '{_hex_threshold(0.25)}'
        WHEN 'src3' THEN '{_hex_threshold(0.125)}'
        ELSE '{_hex_threshold(_X21_DEFAULT)}'
      END
GROUP BY source
"""


@register("x21_mixture_sample", oracle=_X21_ORACLE)
def x21_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-weighted mixture sample over the corpus:
    per-source keep rates (100%/50%/25%/12.5%, 10% elsewhere), drawn
    from md5(doc_id) so the sample is reproducible row-by-row under
    retries and repartitioning. Output = per-source sampled count +
    exact membership checksum."""
    from docker_etl_spark.operators.corpus import mixture_sample

    d = load_table(spark, sf_dir, "documents")
    s = mixture_sample(
        d,
        domain_col="source",
        rates=_X21_RATES,
        key_cols=("doc_id",),
        default_rate=_X21_DEFAULT,
        seed="mix",
    )
    return s.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# x22 — int8-quantized similarity search: 4x-compressed vectors,
# exact integer dot products. Quantization uses floor of one IEEE
# division, so quantized vectors (and hence the ranking) are
# bit-identical in the oracle.
# ---------------------------------------------------------------------------

_X22_ORACLE = """
WITH q8 AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 / m) AS BIGINT)
         ) AS q
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
    FROM embeddings
  )
  WHERE m > 0
),
queries AS (SELECT vec_id AS query_id, q AS qq FROM q8 WHERE vec_id < 3),
scored AS (
  SELECT p.query_id, c.vec_id AS corpus_id,
         CAST(list_sum(list_transform(range(1, 65), i -> p.qq[i] * c.q[i]))
              AS BIGINT) AS qdot
  FROM queries p, q8 c
  WHERE c.vec_id != p.query_id
)
SELECT query_id, corpus_id, qdot,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, corpus_id ASC) AS BIGINT)
           AS rank
FROM scored
QUALIFY rank <= 3
"""


@register("x22_quantized_ann", oracle=_X22_ORACLE)
def x22_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors per query under int8 quantization
    (operators/similarity.quantize_vectors_int8): the compressed-
    vector search path — 4x less memory traffic than float32, integer
    dot products, identical plan shape to x06's broadcast baseline."""
    from docker_etl_spark.operators.similarity import (
        dot_int,
        quantize_vectors_int8,
    )

    em = load_table(spark, sf_dir, "embeddings")
    q8 = quantize_vectors_int8(em, "embedding", out_col="q").filter(
        F.col("q_scale").isNotNull()
    )
    corpus = q8.select(F.col("vec_id").alias("corpus_id"), "q")
    queries = q8.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("corpus_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        "corpus_id",
        dot_int(F.col("qq"), F.col("q")).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "corpus_id", "qdot", "rank")
    )


# ---------------------------------------------------------------------------
# x23 — IVF centroid training: 2 Lloyd iterations in exact integer
# arithmetic (operators/similarity.kmeans_fit_quantized). The oracle
# replays the same deterministic spec — quantize, k-smallest-id init,
# argmin assignment (ties -> lower centroid), floor(sum/count)
# centroid update — as chained CTEs.
# ---------------------------------------------------------------------------

_X23_K = 4

# Shared deterministic-Lloyd CTE prefix (through the round-2
# assignment) — reused by x23 (training fingerprint) and x37
# (SemDeDup over the same assignments). ``src_sql`` provides
# (id, dv: double list) so fixtures can plant near-duplicates.
def _kmeans_ctes(
    src_sql: str,
    sample_n: int | None = None,
    sample_seed: str = "kmtrain",
    sample_where: str = "",
) -> str:
    # sample_n replays kmeans_assign_quantized's max_training_points:
    # training rounds (init/a1/a2) see only the sample_n rows with
    # the smallest md5(id || ':' || seed) digests; consumers of the
    # final centroids (x82/x87's cellassign) still read full vq.
    # sample_where further restricts the draw POOL (x91: the index
    # was built — and therefore trained — on the even-id batch only).
    t = "vq"
    sample = ""
    if sample_n is not None:
        t = "vqt"
        sample = f""",
vqt AS MATERIALIZED (
  SELECT id, v FROM vq {sample_where}
  ORDER BY md5(CAST(id AS VARCHAR) || ':{sample_seed}') ASC, id ASC
  LIMIT {sample_n}
)"""
    return f"""
WITH src AS ({src_sql}),
vq AS (
  SELECT id,
         list_transform(dv, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v
  FROM src
){sample},
init AS (
  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, v AS cv
  FROM {t} ORDER BY id LIMIT 4
),
a1 AS (
  SELECT id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id
           ORDER BY list_sum(list_transform(range(1, 65),
                    i -> (v[i] - cv[i]) * (v[i] - cv[i]))) ASC, cid ASC
         ) AS rn
  FROM {t}, init
),
assign1 AS (SELECT id, v, cid FROM a1 WHERE rn = 1),
cent1u AS (
  SELECT cid, list(val ORDER BY dim) AS cv FROM (
    SELECT a.cid, r.i AS dim,
           CAST(FLOOR(CAST(SUM(a.v[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS val
    FROM assign1 a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.cid, r.i
  ) GROUP BY cid
),
cent1 AS (
  -- empty cluster keeps its centroid (mirrors kmeans_assign_quantized)
  SELECT i.cid, COALESCE(u.cv, i.cv) AS cv
  FROM init i LEFT JOIN cent1u u ON i.cid = u.cid
),
a2 AS (
  SELECT id, v, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id
           ORDER BY list_sum(list_transform(range(1, 65),
                    i -> (v[i] - cv[i]) * (v[i] - cv[i]))) ASC, cid ASC
         ) AS rn
  FROM {t}, cent1
),
assign2 AS (SELECT id, v, cid FROM a2 WHERE rn = 1)"""


_X23_SRC = (
    "SELECT vec_id AS id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings"
)

_X23_ORACLE = _kmeans_ctes(_X23_SRC) + """,
cent2 AS (
  SELECT cid, list(val ORDER BY dim) AS cv FROM (
    SELECT a.cid, r.i AS dim,
           CAST(FLOOR(CAST(SUM(a.v[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS val
    FROM assign2 a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.cid, r.i
  ) GROUP BY cid
)
SELECT a.cid AS cluster_id,
       COUNT(*) AS n_members,
       CAST(SUM(a.id) AS BIGINT) AS member_id_sum,
       CAST(MIN(list_sum(c.cv)) AS BIGINT) AS centroid_sum
FROM assign2 a JOIN cent2 c ON a.cid = c.cid
GROUP BY a.cid
"""


@register("x23_kmeans_ivf_train", oracle=_X23_ORACLE)
def x23_kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 IVF coarse centroids over the embeddings with two
    integer-exact Lloyd rounds; emits per-cluster cardinality, an
    exact membership checksum, and the centroid fingerprint."""
    from docker_etl_spark.operators.similarity import kmeans_fit_quantized

    em = load_table(spark, sf_dir, "embeddings")
    out = kmeans_fit_quantized(
        em, vec_col="embedding", id_col="vec_id", k=_X23_K, iterations=2
    )
    return out.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "member_id_sum",
        "centroid_sum",
    )


# ---------------------------------------------------------------------------
# x37 — SemDeDup: semantic dedup via cluster-local cosine pruning
# (operators/similarity.semantic_dedup; Abbas et al. 2023). The
# oracle extends x23's deterministic-Lloyd CTEs with the
# within-cluster pair stage — same integer dot products, one IEEE
# division, so keep/drop decisions are engine-portable.
# ---------------------------------------------------------------------------

_X37_THRESHOLD = 0.9

# Fixture planting (same recipe as x12): random vectors have no
# genuine near-dups (max pairwise cosine ~= 0.51), so perturbed
# copies of vec_id < 20 are added — each planted twin has cosine
# ~= 1 to its original and must be dropped by the pruning stage.
_X37_SRC = _X23_SRC + (
    " UNION ALL SELECT vec_id + 1000000, "
    "list_transform(range(1, 65), i -> CASE WHEN i = 1 "
    "THEN CAST(embedding[i] AS DOUBLE) + 0.01 "
    "ELSE CAST(embedding[i] AS DOUBLE) END) "
    "FROM embeddings WHERE vec_id < 20"
)

_X37_ORACLE = _kmeans_ctes(_X37_SRC) + f""",
norms AS (
  SELECT id, v, cid,
         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS n
  FROM assign2
),
pairs AS (
  SELECT a.cid, b.id AS id_b
  FROM norms a JOIN norms b
    ON a.cid = b.cid AND a.id < b.id AND a.n > 0 AND b.n > 0
  WHERE CAST(list_sum(list_transform(range(1, 65),
                                     i -> a.v[i] * b.v[i])) AS DOUBLE)
        / sqrt(CAST(a.n * b.n AS DOUBLE)) >= {_X37_THRESHOLD}
),
dropped AS (SELECT DISTINCT cid, id_b AS id FROM pairs)
SELECT a.cid AS cluster_id,
       COUNT(*) AS n_members,
       CAST(COUNT(d.id) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN d.id IS NULL THEN a.id ELSE 0 END) AS BIGINT)
           AS survivor_id_sum
FROM assign2 a LEFT JOIN dropped d ON a.cid = d.cid AND a.id = d.id
GROUP BY a.cid
"""


@register("x37_semantic_dedup", oracle=_X37_ORACLE)
def x37_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (augmented with the planted
    near-dup twins — see _X37_SRC): cluster with the x23
    integer-Lloyd kernel, then drop every vector whose cosine to a
    lower-id cluster-mate reaches the threshold — pairwise work is
    confined to each cluster (the equi-join on the cluster label),
    never a corpus cross join. See semantic_dedup's docstring for the
    100 TB sizing rule (k grows with the corpus so cluster sizes stay
    bounded)."""
    from docker_etl_spark.operators.similarity import semantic_dedup

    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("dv"))
    planted = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            dvec, lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("dv"),
    )
    aug = base.unionByName(planted)
    out = semantic_dedup(
        aug,
        vec_col="dv",
        id_col="vec_id",
        k=_X23_K,
        iterations=2,
        threshold=_X37_THRESHOLD,
    )
    return out.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "n_dropped",
        "survivor_id_sum",
    )


# ---------------------------------------------------------------------------
# x24 — per-document characteristic terms, tf-idf style. Integer-only
# ranking (tf desc, df asc, term asc) so the top-k set is
# bit-reproducible across engines.
# ---------------------------------------------------------------------------

_X24_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '),
                            t -> length(t) >= 3)) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
)
SELECT doc_id, term, tf, df, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rank
  FROM tf JOIN df USING (term)
) WHERE rank <= 3
"""


@register("x24_tfidf_top_terms", oracle=_X24_ORACLE)
def x24_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document (tf-idf ranking:
    frequency in the doc, rarity in the corpus as tiebreak). The df
    side is a vocabulary-sized aggregate joined back on the term key."""
    from docker_etl_spark.operators.text_analysis import tfidf_top_terms

    d = load_docs_spread(spark, sf_dir)
    out = tfidf_top_terms(d, text_col="text", id_col="doc_id", k=3)
    return out.select(
        "doc_id", "term", "tf", "df", F.col("rank").cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------------------
# w09 — half-life-decayed rolling engagement (decayed_window_sum).
# Integer daily counts weighted by exact binary fractions (2**-k), so
# every term is an exact multiple of 2**-7 and the sum is
# order-independent — bit-identical across engines.
# ---------------------------------------------------------------------------

_W09_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
rn AS (
    SELECT day, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
    FROM daily
)
SELECT a.event_type, a.day, a.n,
       SUM(b.n * POWER(0.5, CAST(a.rn - b.rn AS DOUBLE))) AS decayed_sum
FROM rn a JOIN rn b
  ON b.event_type = a.event_type AND b.rn BETWEEN a.rn - 7 AND a.rn
GROUP BY 1, 2, 3
"""


@register("w09_decayed_engagement", oracle=_W09_ORACLE)
def w09_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted daily event counts per type: trailing-8-row
    sum with half-life-per-row decay (operators.windows.decayed_window_sum).

    The oracle reproduces the row-offset weighting with a bounded
    range self-join — the window-frame fold and the join formulation
    are the same sum because every term is exact in binary."""
    from docker_etl_spark.operators.windows import decayed_window_sum

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = decayed_window_sum(
        daily, ["event_type"], ["day"], "n", lookback=7
    )
    return out.select("event_type", "day", "n", "decayed_sum")


# ---------------------------------------------------------------------------
# x25 — BM25 relevance scores for a fixed query-term set over the
# document corpus. Rational odds-idf (no ln) keeps the score chain
# inside correctly-rounded IEEE ops — see bm25_term_scores docstring.
# ---------------------------------------------------------------------------

_X25_TERMS = ("hash", "join", "window", "vector")

_X25_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('hash', 'join', 'window', 'vector')
    GROUP BY 1, 2, 3
),
df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.dl,
       ((CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        / (CAST(df.df AS DOUBLE) + 0.5))
       * ((CAST(tf.tf AS DOUBLE) * 2.25)
          / (CAST(tf.tf AS DOUBLE)
             + 1.25 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
                 / (CAST(stats.sum_dl AS DOUBLE)
                    / CAST(stats.n_docs AS DOUBLE)))))) AS score
FROM tf JOIN df USING (term) CROSS JOIN stats
"""


@register("x25_bm25_scores", oracle=_X25_ORACLE)
def x25_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(document, query-term) BM25 scores — the retrieval
    primitive for querying a corpus for topical slices. Candidate
    stream is pre-filtered to the query-term set before the explode;
    corpus stats and per-term df are tiny broadcasts."""
    from docker_etl_spark.operators.text_analysis import bm25_term_scores

    d = load_docs_spread(spark, sf_dir)
    return bm25_term_scores(
        d, _X25_TERMS, text_col="text", id_col="doc_id", k1=1.25, b=0.75
    )


# ---------------------------------------------------------------------------
# d07 — SCD2 validity intervals from the order change stream
# (operators.scd.scd2_build): warehouse-maintenance primitive behind
# the reference's daily snapshot-history pattern.
# ---------------------------------------------------------------------------

_D07_ORACLE = """
WITH w AS (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
           LAG(o_orderstatus) OVER win AS prev,
           ROW_NUMBER() OVER win AS rn
    FROM orders
    WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
opens AS (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
    FROM w
    WHERE rn = 1 OR (prev IS DISTINCT FROM o_orderstatus)
)
SELECT o_custkey, o_orderstatus,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER win AS valid_to,
       (LEAD(o_orderdate) OVER win IS NULL) AS is_current
FROM opens
WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("d07_scd2_intervals", oracle=_D07_ORACLE)
def d07_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each customer's order-status stream into SCD2 validity
    intervals (change detection by lag, interval close by lead —
    one shuffle on the entity key, no self-join)."""
    from docker_etl_spark.operators.scd import scd2_build

    orders = load_table(spark, sf_dir, "orders")
    return scd2_build(
        orders,
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        attr_cols=["o_orderstatus"],
        valid_from_col="o_orderdate",
    )


# ---------------------------------------------------------------------------
# pr01 — one-pass per-column profile of the customer table
# (operators.profiling.profile_columns). String/integer columns only
# in the oracle-compared set: CAST(x AS STRING) of doubles is
# engine-specific formatting, everything here round-trips exactly.
# ---------------------------------------------------------------------------


def _pr01_col_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(MIN({col}) AS VARCHAR) AS min_value,
           CAST(MAX({col}) AS VARCHAR) AS max_value
    FROM customer"""


_PR01_COLS = ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
_PR01_ORACLE = "\nUNION ALL\n".join(_pr01_col_sql(c) for c in _PR01_COLS)


@register("pr01_column_profile", oracle=_PR01_ORACLE)
def pr01_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality probe: null rate / distinct cardinality / min-max
    per column in ONE aggregate over ONE scan (stack-unpivoted), vs
    the oracle's per-column UNION ALL rescans."""
    from docker_etl_spark.operators.profiling import profile_columns

    cust = load_table(spark, sf_dir, "customer")
    return profile_columns(cust, list(_PR01_COLS), exact=True)


# ---------------------------------------------------------------------------
# x26/x27 — corpus split + domain capping (operators/corpus.py).
# Both draw from md5 hex-string compares (the mixture_sample idiom),
# so any engine that agrees on md5 agrees on every row's fate.
# ---------------------------------------------------------------------------


# Shared engine/oracle threshold derivation (fsum prefix — see
# operators/corpus.py split_threshold_hexes): the oracle CASE is
# built from the SAME fraction list the engine splits on, so any
# fraction configuration keeps both engines row-identical.
_SPLIT_FRACS = (("train", 0.9), ("val", 0.05), ("test", 0.05))
_SPLIT_HEX_TRAIN, _SPLIT_HEX_VAL = split_threshold_hexes(_SPLIT_FRACS)


_X26_ORACLE = f"""
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM (
  SELECT lang, doc_id,
         CASE
           WHEN u < '{_SPLIT_HEX_TRAIN}' THEN 'train'
           WHEN u < '{_SPLIT_HEX_VAL}' THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT lang, doc_id,
           substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'split'), 1, 8) AS u
    FROM documents
  )
)
GROUP BY split, lang
"""


@register("x26_hash_split", oracle=_X26_ORACLE)
def x26_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split: md5-drawn, map-only,
    stable under reruns and repartitioning (a doc keeps its split for
    life — the leak-free property). Output: per-(split, lang) counts
    + exact membership checksum."""
    from docker_etl_spark.operators.corpus import hash_split

    d = load_table(spark, sf_dir, "documents")
    s = hash_split(d, key_cols=("doc_id",), seed="split")
    return s.groupBy("split", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


_X27_CAP = 60

_X27_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'cap'), 1, 16),
                    doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= {_X27_CAP}
GROUP BY source
"""


@register("x27_domain_cap", oracle=_X27_ORACLE)
def x27_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-head-domain guard: cap every source at {cap} docs, keeping
    the hash-ordered prefix (a uniform, rerun-stable subsample of the
    domain — not a storage-order artifact). Output: per-source kept
    count + exact membership checksum."""
    from docker_etl_spark.operators.corpus import domain_cap

    d = load_table(spark, sf_dir, "documents")
    capped = domain_cap(d, "source", _X27_CAP, key_cols=("doc_id",), seed="cap")
    return capped.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# x28 — corpus-trained bigram-LM fluency score (the KenLM-perplexity
# quality-filter stand-in, log-free so every value is exact ints +
# one IEEE division; operators/text_analysis.bigram_lm_scores).
# x29 — per-label embedding centroid outliers (label-noise detection;
# operators/similarity.label_centroid_outliers).
# ---------------------------------------------------------------------------

_X28_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
bg AS (
  SELECT doc_id, u.w1 AS w1, u.b AS b
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                  i -> {'w1': w[i], 'b': w[i] || ' ' || w[i+1]})) AS u
    FROM tok
  )
),
c12 AS (SELECT b, COUNT(*) AS n12 FROM bg GROUP BY b),
c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1),
s AS (
  SELECT bg.doc_id,
         CAST(FLOOR(1000000000.0 * c12.n12 / c1.n1) AS BIGINT) AS sc
  FROM bg JOIN c12 USING (b) JOIN c1 USING (w1)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(sc) AS BIGINT) AS score_sum,
       CAST(SUM(sc) AS DOUBLE) / COUNT(*) AS lm_score,
       CAST(MIN(sc) AS BIGINT) AS min_score
FROM s
GROUP BY doc_id
"""


@register("x28_bigram_lm_score", oracle=_X28_ORACLE)
def x28_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-supervised fluency scoring: train a bigram LM on the
    corpus itself, score every document's mean (and worst) transition
    probability — the perplexity-style quality filter, with no
    external model and no logs (exact cross-engine arithmetic)."""
    from docker_etl_spark.operators.text_analysis import bigram_lm_scores

    d = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(d, text_col="text", id_col="doc_id")


_X29_K = 5

_X29_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
  FROM embeddings
),
cent AS (
  SELECT label, list(val ORDER BY dim) AS cv FROM (
    SELECT q.label, r.i AS dim,
           CAST(FLOOR(CAST(SUM(q.vq[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
    FROM q CROSS JOIN range(1, 65) r(i)
    GROUP BY q.label, r.i
  ) GROUP BY label
),
dist AS (
  SELECT q.label, q.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (q.vq[i] - cent.cv[i]) * (q.vq[i] - cent.cv[i]))) AS BIGINT)
             AS dist_sq
  FROM q JOIN cent USING (label)
)
SELECT label, vec_id, dist_sq, CAST(rank AS INTEGER) AS rank FROM (
  SELECT label, vec_id, dist_sq,
         ROW_NUMBER() OVER (
           PARTITION BY label ORDER BY dist_sq DESC, vec_id ASC
         ) AS rank
  FROM dist
)
WHERE rank <= {_X29_K}
"""


@register("x29_label_outliers", oracle=_X29_ORACLE)
def x29_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detector: the {k} embedding rows farthest from
    their label's integer centroid (quantized, exact squared-L2
    ranking with id tie-break — bit-reproducible)."""
    from docker_etl_spark.operators.similarity import label_centroid_outliers

    em = load_table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(
        em, vec_col="embedding", id_col="vec_id", label_col="label", k=_X29_K
    )


# ---------------------------------------------------------------------------
# x30 — overlapping token-window chunking (operators/corpus.chunk_windows):
# the curation->tokenization bridge. Map-side only; the oracle
# reproduces the start arithmetic with range()+filter and 1-based
# inclusive list_slice.
# ---------------------------------------------------------------------------

_X30_WINDOW, _X30_OVERLAP = 40, 10
_X30_STRIDE = _X30_WINDOW - _X30_OVERLAP

_X30_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
st AS (
  SELECT doc_id, w, unnest(
           list_filter(range(1, greatest(len(w), 1) + 1, {_X30_STRIDE}),
                       s -> s = 1 OR s + {_X30_OVERLAP} <= len(w))
         ) AS start_tok
  FROM tok
)
SELECT doc_id,
       CAST((start_tok - 1) // {_X30_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(list_slice(w, start_tok, start_tok + {_X30_WINDOW} - 1)) AS BIGINT)
           AS n_tokens,
       array_to_string(list_slice(w, start_tok, start_tok + {_X30_WINDOW} - 1), ' ')
           AS chunk_text
FROM st
"""


@register("x30_chunk_windows", oracle=_X30_ORACLE)
def x30_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of every document (window
    40, overlap 10): one map-side pass, no shuffle; trailing chunks
    that would sit entirely inside their predecessor's overlap are
    not emitted."""
    from docker_etl_spark.operators.corpus import chunk_windows

    d = load_table(spark, sf_dir, "documents")
    return chunk_windows(
        d, text_col="text", id_col="doc_id",
        window=_X30_WINDOW, overlap=_X30_OVERLAP,
    )


# ---------------------------------------------------------------------------
# x31 — corpus vocabulary + per-doc OOV rate
# (operators/text_analysis.vocab_oov_stats). Deterministic vocab cut
# (count desc, token asc) so both engines agree at the boundary.
# ---------------------------------------------------------------------------

_X31_VOCAB = 500

_X31_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
vc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM vc ORDER BY c DESC, t ASC LIMIT {_X31_VOCAB})
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS oov_rate
FROM tok LEFT JOIN vocab v USING (t)
GROUP BY tok.doc_id
"""


@register("x31_vocab_oov", oracle=_X31_ORACLE)
def x31_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 corpus vocabulary coverage per document: token count,
    OOV count, OOV rate (exact ints + one division)."""
    from docker_etl_spark.operators.text_analysis import vocab_oov_stats

    d = load_table(spark, sf_dir, "documents")
    return vocab_oov_stats(d, text_col="text", id_col="doc_id", vocab_size=_X31_VOCAB)


# ---------------------------------------------------------------------------
# x32 — incremental corpus dedup (operators/dedupe.incremental_content_dedup):
# the continuous-build form — dedup a new crawl batch against the
# digest store of everything already ingested. The fixture treats
# src0/src1 as the existing store and the rest as the incoming batch.
# ---------------------------------------------------------------------------

_X32_ORACLE = """
WITH store AS (
  SELECT md5(text) AS content_md5 FROM documents WHERE source IN ('src0','src1')
),
batch AS (
  SELECT *, md5(text) AS content_md5 FROM documents
  WHERE source NOT IN ('src0','src1')
),
batch_unique AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
    FROM batch
  ) WHERE rn = 1
)
SELECT b.source,
       COUNT(*) AS n_new,
       CAST(SUM(b.doc_id) AS BIGINT) AS id_sum
FROM batch_unique b
WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.content_md5 = b.content_md5)
GROUP BY b.source
"""


@register("x32_incremental_dedup", oracle=_X32_ORACLE)
def x32_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus build: only content never seen before (by
    digest) survives the incoming batch — intra-batch min-id dedup
    plus anti-join against the store's digest set. Output: surviving
    per-source counts + exact membership checksum."""
    from docker_etl_spark.operators.dedupe import incremental_content_dedup

    d = load_table(spark, sf_dir, "documents")
    store = d.filter(F.col("source").isin("src0", "src1"))
    batch = d.filter(~F.col("source").isin("src0", "src1"))
    survivors = incremental_content_dedup(batch, store)
    return survivors.groupBy("source").agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# x33 — quality-aware dedup survivors: x20's clusters, but the KEPT
# doc is the highest-quality member (longest text, tie -> min id) —
# what production dedup actually retains. Oracle extends the x20
# recursive-CTE transitive closure with a windowed best-member pick.
# ---------------------------------------------------------------------------

_X33_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _X09_ORACLE
    + """
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT e.u AS node, r.r FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
),
m AS (
  SELECT c.cluster_id, c.node, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, node ASC
  ) AS rn
  FROM m
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_quality
FROM ranked
GROUP BY cluster_id
"""
)


@register("x33_dedup_keep_best", oracle=_X33_ORACLE)
def x33_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with quality-aware survivors: each cluster
    keeps its longest document (tie -> lowest id) instead of an
    arbitrary or min-id copy."""
    from docker_etl_spark.operators.dedupe import (
        connected_components,
        keep_best_per_cluster,
    )
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, num_perm=64, bands=8, threshold=0.5, hash_fn="xxhash64"
    ).select("id_a", "id_b")
    labels = connected_components(pairs)
    quality = d.select(F.col("doc_id").alias("node"), "n_chars")
    return keep_best_per_cluster(labels, quality, quality_col="n_chars")


# ---------------------------------------------------------------------------
# x34 — C4-style boilerplate REMOVAL: chunks seen in >= 2 distinct
# documents are stripped and each document is rewritten from its
# surviving chunks in order (passage_dup_stats counts; this cleans).
# ---------------------------------------------------------------------------

_X34_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
ch AS (
  SELECT doc_id, s['pos'] AS pos, s['chunk'] AS chunk
  FROM (
    SELECT doc_id,
           unnest(list_transform(
               range(0, CAST(ceil(len(w) / 5.0) AS INT)),
               i -> {'pos': i,
                     'chunk': array_to_string(
                         list_slice(w, i * 5 + 1, i * 5 + 5), ' ')}))
               AS s
    FROM tok
  )
),
freq AS (
  SELECT h FROM (SELECT DISTINCT doc_id, md5(chunk) AS h FROM ch)
  GROUP BY h HAVING count(*) >= 2
),
kept AS (
  SELECT * FROM ch WHERE md5(chunk) NOT IN (SELECT h FROM freq)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(chunk ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CAST(ceil(len(string_split(lower(text), ' ')) / 5.0) AS BIGINT)
             AS n_chunks
  FROM documents
)
SELECT b.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       b.n_chunks,
       CAST(b.n_chunks - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(b.n_chunks - coalesce(a.n_kept, 0) AS DOUBLE) / b.n_chunks
           AS removed_frac
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# x36 — inter-source chunk-overlap matrix: which corpus slices
# duplicate each other (the measure that prioritizes cross-slice
# dedup before mixing). S^2-bounded output; self-join fan-out per
# digest bounded by the source count.
# ---------------------------------------------------------------------------

_X36_ORACLE = """
WITH tok AS (
  SELECT source, string_split(lower(text), ' ') AS w FROM documents
),
ch AS (
  SELECT DISTINCT source, h FROM (
    SELECT source,
           unnest(list_transform(
               range(0, CAST(ceil(len(w) / 5.0) AS INT)),
               i -> md5(array_to_string(
                        list_slice(w, i * 5 + 1, i * 5 + 5), ' '))))
               AS h
    FROM tok
  )
),
tot AS (SELECT source, count(*) AS n FROM ch GROUP BY source),
p AS (
  SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_shared
  FROM ch a JOIN ch b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT group_a, group_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(ta.n AS BIGINT) AS n_a,
       CAST(tb.n AS BIGINT) AS n_b,
       CAST(n_shared AS DOUBLE) / CAST(ta.n AS DOUBLE) AS frac_a,
       CAST(n_shared AS DOUBLE) / CAST(tb.n AS DOUBLE) AS frac_b
FROM p JOIN tot ta ON p.group_a = ta.source
       JOIN tot tb ON p.group_b = tb.source
"""


@register("x36_source_overlap", oracle=_X36_ORACLE)
def x36_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source containment: distinct 5-token chunk digests
    shared between every pair of sources, with each side's
    containment fraction. Digest-keyed self equi-join over a
    barriered (source, digest) distinct frame."""
    from docker_etl_spark.operators.corpus import source_overlap

    d = load_docs_spread(spark, sf_dir)
    return source_overlap(d, chunk_tokens=5)


# ---------------------------------------------------------------------------
# x35 — token-budget mixture cap: per source, keep documents in
# deterministic hash order until the cumulative token count reaches
# the budget (the unit training mixtures are specified in — tokens
# per source, not rows; domain_cap's weighted sibling).
# ---------------------------------------------------------------------------

_X35_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
         substring(md5(doc_id::VARCHAR || chr(31) || 'budget'), 1, 16) AS hk
  FROM documents
),
c AS (
  SELECT doc_id, source, n_toks,
         sum(n_toks) OVER (PARTITION BY source ORDER BY hk, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_toks FROM c WHERE cum <= 800
"""


@register("x35_token_budget_cap", oracle=_X35_ORACLE)
def x35_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget admission: running token sum in
    md5-hash order, keep documents whose cumulative total fits the
    800-token budget. The kept set never exceeds the budget and is a
    stable uniform sample of each source."""
    from docker_etl_spark.operators.corpus import doc_tokens, token_budget_cap

    d = load_docs_spread(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(doc_tokens("text")).cast("long").alias("n_toks"),
    )
    return token_budget_cap(
        d, "source", 800, token_count=F.col("n_toks")
    ).select("doc_id", "source", "n_toks")


@register("x34_strip_boilerplate", oracle=_X34_ORACLE)
def x34_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent-chunk boilerplate removal (C4's "discard any
    line seen in >= 3 documents", token-chunk form): 5-token chunks
    occurring in >= 2 distinct documents are dropped and documents
    rewritten from the survivors. Count-then-anti-join on the chunk
    digest; fully-boilerplate documents survive with empty text."""
    from docker_etl_spark.operators.corpus import strip_boilerplate

    d = load_docs_spread(spark, sf_dir)
    return strip_boilerplate(d, chunk_tokens=5, min_docs=2)


# ---------------------------------------------------------------------------
# cp01 — the corpus_prep job's pipeline as an oracle-paired composite
# (the curation analogue of gd01's dashboard lifecycle): Gopher gate
# -> exact content dedup -> per-domain cap -> deterministic split ->
# per-(split, source) census. The oracle re-derives every stage in
# SQL: full-match regex for the alpha rule, windowed dedup/cap, md5
# cumulative-threshold split. Every rule comparison is a single IEEE
# division against a literal, so the keep-set matches row-for-row.
# ---------------------------------------------------------------------------

_CP01_CAP = 60

_CP01_ORACLE = f"""
WITH tok AS (
  SELECT *, string_split(lower(text), ' ') AS w FROM documents
),
feat AS (
  SELECT *, len(w) AS n_words,
         CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w)
             AS mean_len,
         CAST(len(list_filter(w, t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
             / len(w) AS alpha_frac,
         len(list_filter(
             w, t -> t IN ('the','a','of','to','and','in','is','for')))
             AS n_stop
  FROM tok
),
kept AS (
  SELECT doc_id, text, source FROM feat
  WHERE n_words >= 5 AND n_words <= 100000
    AND mean_len >= 2.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND n_stop >= 1
),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'cap'), 1, 16),
               doc_id
    ) AS rn2
    FROM dedup
  ) WHERE rn2 <= {_CP01_CAP}
),
assigned AS (
  SELECT *,
         CASE
           WHEN u < '{_SPLIT_HEX_TRAIN}' THEN 'train'
           WHEN u < '{_SPLIT_HEX_VAL}' THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT *,
           substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'split'), 1, 8) AS u
    FROM capped
  )
)
SELECT split, source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM assigned
GROUP BY split, source
"""


@register("cp01_corpus_prep_census", oracle=_CP01_ORACLE)
def cp01_corpus_prep_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus_prep lifecycle as one differential-checked plan:
    quality gate -> exact dedup (min id per content digest) ->
    per-domain cap -> 90/5/5 split -> per-(split, source) census."""
    from pyspark.sql import Window

    from docker_etl_spark.operators.corpus import (
        domain_cap,
        gopher_quality,
        hash_split,
    )

    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(gopher_quality("text", min_words=5, min_stopwords=1)["keep"])
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    capped = domain_cap(deduped, "source", cap=_CP01_CAP)
    assigned = hash_split(capped)
    return assigned.groupBy("split", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# co01 — cohort retention matrix (operators/aggregates.retention_cohorts):
# users cohorted by first-activity week, counted per weeks-since.
# Monday-start week truncation agrees between Spark and DuckDB; the
# output is counts only, so the hash match is exact.
# ---------------------------------------------------------------------------

_CO01_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
),
first AS (
  SELECT u, MIN(w) AS cohort_week FROM uw GROUP BY u
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, uw.w) // 7 AS BIGINT) AS weeks_since,
       COUNT(*) AS n_active
FROM uw JOIN first f USING (u)
GROUP BY 1, 2
"""


@register("co01_retention_cohorts", oracle=_CO01_ORACLE)
def co01_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table: cohort size at
    weeks_since=0, returning users per later week."""
    from docker_etl_spark.operators.aggregates import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev, user_col="user_id", ts_col="ts")


# ---------------------------------------------------------------------------
# dr01 — distribution drift between corpus slices
# (operators/profiling.histogram_drift): per-bucket two-sample
# chi-square terms in pure double arithmetic (every step one IEEE op
# in a fixed order — bit-identical cross-engine at any scale).
# ---------------------------------------------------------------------------

_DR01_ORACLE = """
WITH u AS (
  SELECT LEAST(FLOOR(n_chars / 60), 9) AS bucket,
         CASE WHEN source IN ('src0','src1') THEN 0 ELSE 1 END AS side
  FROM documents
),
g AS (
  SELECT bucket,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
  FROM u GROUP BY bucket
),
t AS (
  SELECT bucket, n_a, n_b,
         CAST(SUM(n_a) OVER () AS DOUBLE) AS na,
         CAST(SUM(n_b) OVER () AS DOUBLE) AS nb
  FROM g
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       ((CAST(n_a AS DOUBLE) * nb - CAST(n_b AS DOUBLE) * na)
        * (CAST(n_a AS DOUBLE) * nb - CAST(n_b AS DOUBLE) * na))
       / (na * nb * CAST(n_a + n_b AS DOUBLE)) AS drift_term
FROM t
"""


@register("dr01_histogram_drift", oracle=_DR01_ORACLE)
def dr01_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution drift between the src0/src1 slice and the
    rest of the corpus: 10 fixed-width buckets, per-bucket counts +
    chi-square drift term."""
    from docker_etl_spark.operators.profiling import histogram_drift

    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("source").isin("src0", "src1"))
    b = d.filter(~F.col("source").isin("src0", "src1"))
    return histogram_drift(a, b, value_col="n_chars", bucket_width=60, n_buckets=10)


# ---------------------------------------------------------------------------
# x38 — temperature-based mixture sampling: per-domain keep rates
# derived from corpus counts with alpha = 0.5 (the multilingual-LM
# "temperature" recipe: p_d ∝ (n_d/N)^α upweights tail domains).
# rate_d = sqrt(min_n / n_d) keeps the rarest domain whole and
# subsamples head domains toward the flattened target. sqrt is an
# IEEE correctly-rounded op (unlike pow), so both engines derive the
# SAME per-domain threshold bit-for-bit; the draw is the md5-hex
# idiom of x21/x26.
# ---------------------------------------------------------------------------

_X38_ORACLE = """
WITH docs AS (
  -- the fixture's sources are uniform (temperature sampling would be
  -- a no-op); derive a skewed domain: bucket sizes 1:3:5:...:19
  SELECT doc_id,
         'd' || CAST(CAST(FLOOR(sqrt(CAST(doc_id % 100 AS DOUBLE))) AS INT)
                     AS VARCHAR) AS dom
  FROM documents
),
census AS (
  SELECT dom, CAST(COUNT(*) AS BIGINT) AS n FROM docs GROUP BY dom
),
minn AS (SELECT MIN(n) AS mn FROM census),
thr AS (
  SELECT dom, n,
         printf('%08x', CAST(FLOOR(sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE))
                                   * 4294967295) AS BIGINT)) AS thr_hex
  FROM census, minn
),
kept AS (
  SELECT d.dom, d.doc_id
  FROM docs d JOIN thr ON d.dom = thr.dom
  WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || chr(31) || 'temp'), 1, 8)
        < thr.thr_hex
)
SELECT t.dom, t.n AS n_total,
       CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
FROM thr t LEFT JOIN kept k ON t.dom = k.dom
GROUP BY t.dom, t.n
"""


@register("x38_temperature_mixture", oracle=_X38_ORACLE)
def x38_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=0.5) mixture sampling with rates computed FROM
    the corpus census — unlike x21's fixed-rate mixture_sample, the
    per-domain thresholds are derived in-plan (two tiny aggregates
    broadcast back over the scan), so no collect and no driver-side
    rate table.

    Scale: census = one partial+final agg (k domain rows); the keep
    decision is a map-side md5-hex compare after a broadcast join of
    the k-row threshold dim. One pass over the corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("d"),
            F.floor(F.sqrt((F.col("doc_id") % 100).cast("double")))
            .cast("int")
            .cast("string"),
        ).alias("dom"),
    )
    census = d.groupBy("dom").agg(F.count("*").cast("bigint").alias("n"))
    minn = census.agg(F.min("n").alias("mn"))
    thr = census.crossJoin(F.broadcast(minn)).select(
        "dom",
        F.col("n").alias("n_total"),
        F.lower(
            F.lpad(
                F.hex(
                    F.floor(
                        F.sqrt(F.col("mn").cast("double") / F.col("n").cast("double"))
                        * F.lit(4294967295.0)
                    ).cast("bigint")
                ),
                8,
                "0",
            )
        ).alias("thr_hex"),
    )
    u = F.substring(
        F.md5(F.concat_ws("\x1f", F.col("doc_id").cast("string"), F.lit("temp"))),
        1,
        8,
    )
    kept = (
        d.select("dom", "doc_id", u.alias("u"))
        .join(F.broadcast(thr), "dom")
        .filter(F.col("u") < F.col("thr_hex"))
    )
    return (
        thr.join(
            F.broadcast(
                kept.groupBy("dom").agg(
                    F.count("*").cast("bigint").alias("n_kept"),
                    F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
                )
            ),
            "dom",
            "left",
        )
        .select(
            "dom",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
            F.coalesce(F.col("kept_id_sum"), F.lit(0).cast("bigint")).alias(
                "kept_id_sum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# x39 — train/test leakage guard: hash-split the corpus, then measure
# distinct-chunk-digest overlap BETWEEN splits (source_overlap with
# the split as the group). The number every eval pipeline must check
# before trusting held-out metrics — contamination ACROSS a split is
# invisible to within-split dedup.
# ---------------------------------------------------------------------------

_X39_ORACLE = f"""
WITH assigned AS (
  SELECT text,
         CASE
           WHEN u < '{_SPLIT_HEX_TRAIN}' THEN 'train'
           WHEN u < '{_SPLIT_HEX_VAL}' THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT text,
           substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'split'), 1, 8) AS u
    FROM documents
  )
),
tok AS (SELECT split, string_split(lower(text), ' ') AS w FROM assigned),
ch AS (
  SELECT DISTINCT split, h FROM (
    SELECT split,
           unnest(list_transform(
               range(0, CAST(ceil(len(w) / 5.0) AS INT)),
               i -> md5(array_to_string(
                        list_slice(w, i * 5 + 1, i * 5 + 5), ' '))))
               AS h
    FROM tok
  )
),
tot AS (SELECT split, count(*) AS n FROM ch GROUP BY split),
p AS (
  SELECT a.split AS group_a, b.split AS group_b, count(*) AS n_shared
  FROM ch a JOIN ch b ON a.h = b.h AND a.split < b.split
  GROUP BY 1, 2
)
SELECT group_a, group_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(ta.n AS BIGINT) AS n_a,
       CAST(tb.n AS BIGINT) AS n_b,
       CAST(n_shared AS DOUBLE) / CAST(ta.n AS DOUBLE) AS frac_a,
       CAST(n_shared AS DOUBLE) / CAST(tb.n AS DOUBLE) AS frac_b
FROM p JOIN tot ta ON p.group_a = ta.split
       JOIN tot tb ON p.group_b = tb.split
"""


@register("x39_split_leakage", oracle=_X39_ORACLE)
def x39_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split chunk leakage matrix: hash_split (x26's exact
    assignment) composed with source_overlap on the split label.
    Pure composition of the two library operators — the lifecycle
    guard a corpus build runs right after splitting.

    Scale: the split is a map-side expression; the overlap join
    shuffles narrow (split, digest) pairs — S=3 groups bound the
    per-digest fan-out exactly as x36's source matrix."""
    from docker_etl_spark.operators.corpus import hash_split, source_overlap

    d = load_docs_spread(spark, sf_dir)
    assigned = hash_split(d, key_cols=("doc_id",), seed="split")
    return source_overlap(assigned, chunk_tokens=5, group_col="split")


# ---------------------------------------------------------------------------
# s11 — HTML link/text extraction (the in-engine half of the S11
# web-scrape source: fetching stays a driver adapter; PARSING a
# fetched-page corpus is distributed JVM regex work —
# functions/scalars.html_links/html_text). The fixture synthesizes
# markup from orders columns (both quote styles, entities incl. the
# double-escape trap, tag soup, ragged whitespace) identically in
# both engines.
# ---------------------------------------------------------------------------

_S11_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
         '<html><body> <h1>Order</h1>  <a href="https://shop.example/o/'
         || o_orderkey || '">view</a> <a href=' || '''' || '/rel/'
         || o_custkey || '''' || '>rel</a> <p>Tom &amp; Jerry &lt;b&gt; '
         || '&#39;q&#39; &amp;lt;raw&amp;gt;</p></body></html>' AS page
  FROM orders WHERE o_orderkey % 10 = 0
),
ex AS (
  SELECT o_orderkey,
         regexp_extract_all(page,
             '(?i)href\\s*=\\s*["'']([^"'']+)["'']', 1) AS links,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(
             regexp_replace(page, '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS text
  FROM src
)
SELECT o_orderkey,
       CAST(len(links) AS BIGINT) AS n_links,
       links[1] AS first_link,
       links[2] AS second_link,
       text
FROM ex
"""


@register("s11_html_extract", oracle=_S11_ORACLE)
def s11_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link + visible-text extraction over a page corpus: JVM
    regexp_extract_all for hrefs (both quote styles) and the
    tag-strip/entity-decode/whitespace-collapse chain — the
    distributed twin of the reference's driver-side BeautifulSoup
    passes (extensions/main.py:110-133; release_scraping/main.py:
    451-452). Scale: pure map-side codegen'd expressions; a 100 TB
    crawl parses at scan speed with zero Python."""
    from docker_etl_spark.functions.scalars import html_links, html_text

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    page = F.concat(
        F.lit('<html><body> <h1>Order</h1>  <a href="https://shop.example/o/'),
        F.col("o_orderkey").cast("string"),
        F.lit('">view</a> <a href='),
        F.lit("'"),
        F.lit("/rel/"),
        F.col("o_custkey").cast("string"),
        F.lit("'"),
        F.lit(">rel</a> <p>Tom &amp; Jerry &lt;b&gt; "),
        F.lit("&#39;q&#39; &amp;lt;raw&amp;gt;</p></body></html>"),
    )
    pages = o.select("o_orderkey", page.alias("page"))
    links = html_links("page")
    return pages.select(
        "o_orderkey",
        F.size(links).cast("bigint").alias("n_links"),
        F.element_at(links, 1).alias("first_link"),
        F.element_at(links, 2).alias("second_link"),
        html_text("page").alias("text"),
    )


# ---------------------------------------------------------------------------
# x40 — intra-document repetition removal
# (operators/corpus.dedup_repeated_chunks). The fixture plants a
# repeat of each qualifying document's FIRST chunk at its end
# (docs whose token count is a multiple of 5, so the appended chunk
# aligns exactly) — without planting, random fixture text has no
# repeated 5-token chunks and the check would be vacuous.
# ---------------------------------------------------------------------------

_X40_ORACLE = """
WITH base AS (
  SELECT doc_id, lower(text) AS text,
         string_split(lower(text), ' ') AS w
  FROM documents
),
planted AS (
  SELECT doc_id,
         CASE WHEN len(w) % 5 = 0 AND doc_id % 3 = 0
              THEN text || ' ' || array_to_string(list_slice(w, 1, 5), ' ')
              ELSE text END AS text
  FROM base
),
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM planted),
ch AS (
  SELECT doc_id,
         unnest(list_transform(
             range(0, CAST(ceil(len(w) / 5.0) AS INT)),
             i -> array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ')))
             AS chunk,
         generate_subscripts(list_transform(
             range(0, CAST(ceil(len(w) / 5.0) AS INT)), i -> i), 1) AS idx
  FROM tok
),
firsts AS (
  SELECT doc_id, chunk, MIN(idx) AS fi FROM ch GROUP BY doc_id, chunk
),
rebuilt AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY fi) AS clean_text,
         COUNT(*) AS n_kept
  FROM firsts GROUP BY doc_id
),
tot AS (
  SELECT doc_id, CAST(ceil(len(w) / 5.0) AS BIGINT) AS n_chunks FROM tok
)
SELECT t.doc_id, r.clean_text, t.n_chunks,
       CAST(t.n_chunks - r.n_kept AS BIGINT) AS n_removed,
       CAST(t.n_chunks - r.n_kept AS DOUBLE) / CAST(t.n_chunks AS DOUBLE)
           AS removed_frac
FROM tot t JOIN rebuilt r ON t.doc_id = r.doc_id
"""


@register("x40_intradoc_dedup", oracle=_X40_ORACLE)
def x40_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal over the (plant-augmented)
    documents table — map-side order-preserving chunk fold, zero
    shuffle (the complement of x34's corpus-frequency removal)."""
    from docker_etl_spark.operators.corpus import dedup_repeated_chunks, doc_tokens

    d = load_table(spark, sf_dir, "documents")
    w = doc_tokens("text")
    planted = d.select(
        "doc_id",
        F.when(
            (F.size(w) % 5 == 0) & (F.col("doc_id") % 3 == 0),
            F.concat(
                F.lower("text"),
                F.lit(" "),
                F.array_join(F.slice(w, 1, 5), " "),
            ),
        )
        .otherwise(F.lower("text"))
        .alias("text"),
    )
    return dedup_repeated_chunks(planted, chunk_tokens=5)


# ---------------------------------------------------------------------------
# r03 — change-reason classification over the replay change log
# (operators/replay.change_reasons; reference get_change_reasons,
# etl/metric_changes.py:415-447). Uses the same events-derived
# change-set fixture as r02; the oracle recomputes reasons from the
# LAG columns directly.
# ---------------------------------------------------------------------------

_R03_ORACLE = """
WITH t AS (
  SELECT user_id, event_id, event_type AS status,
         CAST(CAST(FLOOR(value) AS INT) % 5 AS VARCHAR) AS sev,
         LAG(event_type) OVER w AS p_status,
         LAG(CAST(CAST(FLOOR(value) AS INT) % 5 AS VARCHAR)) OVER w AS p_sev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
ch AS (
  SELECT user_id, event_id, status, sev, p_status, p_sev FROM t
  WHERE p_status IS NOT NULL AND (status <> p_status OR sev <> p_sev)
)
SELECT user_id, event_id,
       COALESCE(array_to_string(list_sort(list_filter([
         CASE WHEN status <> p_status AND status = 'purchase'
                   AND p_status <> 'purchase' THEN 'resolved'
              WHEN status <> p_status AND p_status = 'purchase'
                   AND status <> 'purchase' THEN 'reopened'
         END,
         CASE WHEN sev <> p_sev THEN 'triage' END
       ], x -> x IS NOT NULL)), ','), '') AS reasons,
       CAST(CAST(status <> p_status AS INT) + CAST(sev <> p_sev AS INT)
            AS BIGINT) AS n_changes
FROM ch
"""


@register("r03_change_reasons", oracle=_R03_ORACLE)
def r03_change_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reason tags for every replayed change-set (resolved / reopened
    / triage), completing the metric_changes lifecycle: r01 replays
    states, r02 re-scores them, r03 explains WHY each score moved —
    the reasons column the reference writes alongside score changes.
    Map-side transform over the change arrays; the only shuffle is
    the fixture's LAG window."""
    from docker_etl_spark.operators.replay import change_reasons

    ev = load_table(spark, sf_dir, "events")
    typed = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("status"),
        (F.floor("value").cast("int") % 5).cast("string").alias("sev"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    lagged = typed.select(
        "*",
        F.lag("status").over(w).alias("p_status"),
        F.lag("sev").over(w).alias("p_sev"),
    )
    changes = F.filter(
        F.array(
            F.struct(
                F.lit("status").alias("field_name"),
                F.col("status").alias("added"),
                F.col("p_status").alias("removed"),
            ),
            F.struct(
                F.lit("severity").alias("field_name"),
                F.col("sev").alias("added"),
                F.col("p_sev").alias("removed"),
            ),
        ),
        lambda c: c["added"] != c["removed"],
    )
    hist = (
        lagged.filter(F.col("p_status").isNotNull())
        .select("user_id", "event_id", changes.alias("changes"))
        .filter(F.size("changes") > 0)
    )
    reasons = change_reasons(
        F.col("changes"),
        status_field="status",
        fixed_states=("purchase",),
        field_reasons={"severity": "triage"},
    )
    return hist.select(
        "user_id",
        "event_id",
        F.array_join(reasons, ",").alias("reasons"),
        F.size("changes").cast("bigint").alias("n_changes"),
    )


@register("x41_dedup_clusters_twophase", oracle=_X20_ORACLE)
def x41_dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x20's pipeline with the diameter-independent two-phase CC
    (large-star/small-star) — same oracle, proving both algorithms
    label identically on the production near-dup graph. This is the
    algorithm the docs point long-chain graphs at; running it under
    the driver gate keeps that escape hatch honest."""
    from docker_etl_spark.operators.dedupe import connected_components
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, num_perm=64, bands=8, threshold=0.5, hash_fn="xxhash64"
    ).select("id_a", "id_b")
    labels = connected_components(pairs, algorithm="two-phase")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# dq01 — typed-parameter file query (plans/paramqueries; reference
# redashdata.py:25-428 — dashboard queries as on-disk dirs with
# parameter schemas: enum membership checked, dates parsed, defaults
# filled). Binding goes through spark.sql named args, so parameters
# are typed literals Catalyst constant-folds (pushdown identical to
# hand-written predicates). The oracle inlines the same defaults.
# ---------------------------------------------------------------------------

_DQ01_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'O'
  AND o_totalprice >= 150000
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'
GROUP BY o_orderpriority
"""


@register("dq01_typed_param_query", oracle=_DQ01_ORACLE)
def dq01_typed_param_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the demo dashboard catalog's query with its declared
    defaults (enum + number + date-range parameters)."""
    from pathlib import Path

    from docker_etl_spark.plans.paramqueries import load_query_catalog

    root = (
        Path(__file__).resolve().parent.parent / "fixtures" / "demo_dashboards"
    )
    catalog = load_query_catalog(root)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return catalog["orders_by_priority"].run(spark)


# ---------------------------------------------------------------------------
# e01 — declarative data-quality expectations report
# (operators/profiling expectations family): not_null + unique +
# accepted_values + referential integrity over the fixture warehouse,
# one report row per check. All counts exact ints — the oracle
# recomputes each check in SQL.
# ---------------------------------------------------------------------------

_E01_ORACLE = """
SELECT 'not_null' AS check, 'o_custkey' AS target,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
       SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'not_null', 'o_orderdate',
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'unique', 'o_orderkey',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
       COUNT(*) = COUNT(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'accepted_values', 'o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F', 'P')
                THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'references', 'o_custkey',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'freshness', 'ts<=24h',
       CAST(CASE WHEN MAX(ts) IS NULL
                  OR date_diff('second', MAX(ts),
                               TIMESTAMP '2100-01-01 00:00:00') / 3600.0 > 24
                 THEN 1 ELSE 0 END AS BIGINT),
       CASE WHEN MAX(ts) IS NULL
             OR date_diff('second', MAX(ts),
                          TIMESTAMP '2100-01-01 00:00:00') / 3600.0 > 24
            THEN 1 ELSE 0 END = 0
FROM events
"""


@register("e01_expectations_report", oracle=_E01_ORACLE)
def e01_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract admission gate over the fixture warehouse: the
    dbt-style check quartet plus source freshness as one report.
    Scale: not_null checks share one scan; unique is one groupBy;
    references is a (broadcastable) anti-join; freshness is a 1-row
    max — no check materializes violating rows, only counts. The
    freshness ``as_of`` is an explicit literal (never wall-clock) so
    the report is reproducible; the fixture is deliberately stale
    against it, exercising the failing arm."""
    from docker_etl_spark.operators.profiling import (
        expect_accepted_values,
        expect_freshness,
        expect_not_null,
        expect_references,
        expect_unique,
        expectation_report,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return expectation_report(
        [
            expect_not_null(o, ["o_custkey", "o_orderdate"]),
            expect_unique(o, ["o_orderkey"]),
            expect_accepted_values(o, "o_orderstatus", ["O", "F", "P"]),
            expect_references(o, "o_custkey", c, "c_custkey"),
            expect_freshness(
                ev, "ts", as_of="2100-01-01 00:00:00", max_lag_hours=24
            ),
        ]
    )


# ---------------------------------------------------------------------------
# e02 — snapshot diff classification (operators/scd.snapshot_diff).
# The "new" snapshot is derived deterministically from orders:
# every 17th key removed, every 13th's status flipped, every 19th
# re-keyed as an addition — so all four classes are exercised and
# the oracle rebuilds the identical snapshots.
# ---------------------------------------------------------------------------

_E02_ORACLE = """
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(12,2)) AS total
  FROM orders
),
new AS (
  SELECT k,
         CASE WHEN k % 13 = 0 THEN 'Z' ELSE status END AS status,
         total
  FROM old WHERE k % 17 <> 0
  UNION ALL
  SELECT k + 100000000, status, total FROM old WHERE k % 19 = 0
),
j AS (
  SELECT COALESCE(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.status IS DISTINCT FROM n.status
                   OR o.total IS DISTINCT FROM n.total THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_checksum
FROM j GROUP BY change_type
"""


@register("e02_snapshot_diff", oracle=_E02_ORACLE)
def e02_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-diff classification between two snapshot states of the
    orders table (added / removed / changed / unchanged per key), the
    change-capture primitive under history inserts. One full-outer
    shuffle on the key."""
    from docker_etl_spark.operators.scd import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        _dec("o_totalprice").alias("total"),
    )
    new = (
        old.filter(F.col("k") % 17 != 0)
        .select(
            "k",
            F.when(F.col("k") % 13 == 0, F.lit("Z"))
            .otherwise(F.col("status"))
            .alias("status"),
            "total",
        )
        .unionByName(
            old.filter(F.col("k") % 19 == 0).select(
                (F.col("k") + 100_000_000).alias("k"), "status", "total"
            )
        )
    )
    d = snapshot_diff(old, new, ["k"], compare_cols=["status", "total"])
    return d.groupBy("change_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# e03 — CDC apply (operators/skew.apply_cdc): a deterministic change
# batch (upserts, deletes, inserts — with per-key multi-row logs
# collapsed to the last op) applied to the orders snapshot; census
# by status proves the merge. Oracle replays the same CDC semantics
# with window + anti-join SQL.
# ---------------------------------------------------------------------------

_E03_ORACLE = """
WITH cur AS (
  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
),
raw_ch AS (
  -- seq 1: every 11th key -> status 'U1'; seq 2 overrides every 22nd
  -- to DELETE (last op wins); every 23rd key inserts a new row
  SELECT k, 'U' AS op, 'U1' AS status, 1 AS seq FROM cur WHERE k % 11 = 0
  UNION ALL
  SELECT k, 'D', NULL, 2 FROM cur WHERE k % 22 = 0
  UNION ALL
  SELECT k + 200000000, 'I', 'NEW', 1 FROM cur WHERE k % 23 = 0
),
last_ch AS (
  SELECT k, op, status FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM raw_ch
  ) WHERE rn = 1
),
merged AS (
  SELECT c.k, c.status FROM cur c
  WHERE NOT EXISTS (SELECT 1 FROM last_ch l WHERE l.k = c.k)
  UNION ALL
  SELECT k, status FROM last_ch WHERE op <> 'D'
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_checksum
FROM merged GROUP BY status
"""


@register("e03_cdc_apply", oracle=_E03_ORACLE)
def e03_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + CDC batch -> merged snapshot (I/U/D with last-op-
    wins collapse), censused by status. One window + one anti-join +
    union; with partitioned layouts only touched partitions
    rewrite."""
    from docker_etl_spark.operators.skew import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    cur = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("status")
    )
    ch = (
        cur.filter(F.col("k") % 11 == 0)
        .select("k", F.lit("U").alias("op"), F.lit("U1").alias("status"), F.lit(1).alias("seq"))
        .unionByName(
            cur.filter(F.col("k") % 22 == 0).select(
                "k", F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("status"), F.lit(2).alias("seq"),
            )
        )
        .unionByName(
            cur.filter(F.col("k") % 23 == 0).select(
                (F.col("k") + 200_000_000).alias("k"), F.lit("I").alias("op"),
                F.lit("NEW").alias("status"), F.lit(1).alias("seq"),
            )
        )
    )
    merged = apply_cdc(cur, ch, ["k"], op_col="op", order_col="seq")
    return merged.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# x42 — canonical-URL crawl dedup (functions/scalars.canonicalize_url)
# Synthesized URLs carry per-doc tracking decorations and shuffled
# parameter order; the oracle constructs the ground-truth canonical
# form directly from the same arithmetic, so the engine's parse →
# strip → sort → rebuild chain is checked against construction, not
# against a SQL re-implementation of itself.
# ---------------------------------------------------------------------------

_X42_ORACLE = """
WITH canon AS (
  SELECT doc_id,
         'https://site' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id % 100 AS VARCHAR)
         || '?a=1&b=2' AS canonical_url
  FROM documents
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM canon GROUP BY canonical_url
"""


@register("x42_canonical_url_dedup", oracle=_X42_ORACLE)
def x42_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group a decorated-URL corpus by canonical form — the crawl
    pre-dedup step (two fetches of one page with different tracking
    params are one document). Map-side canonicalization + one
    groupBy."""
    from docker_etl_spark.functions.scalars import canonicalize_url

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://Site"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?b=2&a=1&utm_source=x"))
        .otherwise(F.lit("?a=1&utm_medium=m&b=2")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#section")).otherwise(F.lit("")),
    )
    urls = d.select("doc_id", raw.alias("url"))
    return urls.groupBy(
        canonicalize_url("url").alias("canonical_url")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# x43 — per-group adaptive quality floor: each language keeps only
# documents at or above ITS OWN 25th length percentile (exact
# discrete percentile — deterministic in both engines), instead of
# one global cutoff that over-prunes short-form languages. The
# group-threshold dim is tiny and broadcast back over the scan.
# ---------------------------------------------------------------------------

_X43_ORACLE = """
WITH thr AS (
  SELECT lang, quantile_disc(n_chars, 0.25) AS floor_chars
  FROM documents GROUP BY lang
)
SELECT d.lang,
       CAST(MIN(t.floor_chars) AS BIGINT) AS floor_chars,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(d.doc_id) AS BIGINT) AS kept_id_sum
FROM documents d JOIN thr t ON d.lang = t.lang
WHERE d.n_chars >= t.floor_chars
GROUP BY d.lang
"""


@register("x43_adaptive_quality_floor", oracle=_X43_ORACLE)
def x43_adaptive_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive length floor (exact 25th percentile per
    group, broadcast join, map-side filter) — the stratified form of
    the fixed-threshold quality gate (x15). Scale: the percentile agg
    shuffles once to k group rows; the corpus-side keep decision
    never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    thr = d.groupBy("lang").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("floor_chars")
    )
    kept = d.join(F.broadcast(thr), "lang").filter(
        F.col("n_chars") >= F.col("floor_chars")
    )
    return kept.groupBy("lang").agg(
        F.min("floor_chars").cast("bigint").alias("floor_chars"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )


# ---------------------------------------------------------------------------
# fi01 — heavy-hitters with an exactness guardrail (cd01's pattern
# applied to frequent items): the sketch side (df.stat.freqItems,
# Karp-Papadimitriou-Shenker) must CONTAIN every event_type whose
# true frequency exceeds the support threshold; the differential
# contract checks that containment (deterministic for fixed data)
# alongside the exact counts.
# ---------------------------------------------------------------------------

_FI01_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS in_sketch
FROM events
GROUP BY event_type
HAVING COUNT(*) > (SELECT COUNT(*) FROM events) * 0.15
"""


@register("fi01_frequent_items_guardrail", oracle=_FI01_ORACLE)
def fi01_frequent_items_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (> 15% support) annotated with sketch
    containment: freqItems' one-pass summary is the 100 TB path (no
    shuffle of the value space); KPS guarantees no false negatives
    above the support, which is exactly what the boolean pins.

    Driver actions here are BOUNDED by contract (the library-collect
    allowlist class, like the k-means centroid pull): freqItems
    returns ONE row with <= 1/support items — and it is the single
    extra action this builder runs. The support threshold folds into
    the same aggregate via an unbounded window over the already
    grouped (|event_type|-sized) frame, so `events` is scanned
    exactly once when the returned plan executes."""
    ev = load_table(spark, sf_dir, "events")
    sketch = set(
        ev.stat.freqItems(["event_type"], support=0.15).collect()[0][0]
    )
    grouped = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    total = F.sum("n_events").over(Window.partitionBy())
    exact = (
        grouped.withColumn("_total", total)
        .filter(F.col("n_events") > F.col("_total") * 0.15)
        .drop("_total")
    )
    in_sketch = F.col("event_type").isin(*sorted(sketch)) if sketch else F.lit(False)
    return exact.select("event_type", "n_events", in_sketch.alias("in_sketch"))


# ---------------------------------------------------------------------------
# x44 — hard-negative mining (operators/similarity.hard_negative_mining)
# over int-quantized embeddings: exact integer dots, deterministic
# ranking — the x22 exactness recipe applied to contrastive
# training-pair prep.
# ---------------------------------------------------------------------------

_X44_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         list_sum(list_transform(v, x -> x * x)) AS nrm
  FROM q
  WHERE list_sum(list_transform(v, x -> x * x)) > 0
),
anchors AS (SELECT * FROM n WHERE vec_id < 8),
pairs AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
         CAST(list_sum(list_transform(range(1, 65),
                                      i -> a.v[i] * c.v[i])) AS DOUBLE)
         / sqrt(CAST(a.nrm * c.nrm AS DOUBLE)) AS cosine
  FROM anchors a JOIN n c
    ON a.vec_id <> c.vec_id AND a.label <> c.label
)
SELECT anchor_id, negative_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC
  ) AS rank
  FROM pairs
) WHERE rank <= 3
"""


@register("x44_hard_negatives", oracle=_X44_ORACLE)
def x44_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 highest-cosine wrong-label neighbors for each of 8
    anchor embeddings (quantized exact-int mode). Anchors broadcast;
    corpus scanned once; one window on the anchor id."""
    from docker_etl_spark.operators.similarity import hard_negative_mining

    em = load_table(spark, sf_dir, "embeddings")
    qv = em.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
        ).alias("vec"),
    )
    anchors = qv.filter(F.col("vec_id") < 8)
    return hard_negative_mining(
        qv, anchors, k=3, exact_int=True
    ).withColumn("rank", F.col("rank").cast("bigint"))


# ---------------------------------------------------------------------------
# x45 — incremental near-dup dedup against a signature store
# (operators/text_dedup.incremental_minhash_dedup): the x32
# continuous-build pattern upgraded from exact digests to MinHash.
# Store = even doc_ids' SIGNATURES (no text); batch = odd ids plus
# planted copies of early even docs (signature-identical -> est 1.0),
# so the store-hit path is provably non-vacuous. Oracle rebuilds
# signatures, band buckets, and the position-match estimator in SQL.
# ---------------------------------------------------------------------------

_X45_SIG_SQL = "[" + ",\n         ".join(
    f"list_min(list_transform(s, x -> md5(x || 'p{i}')))" for i in range(12)
) + "]"

_X45_ORACLE = f"""
WITH newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000001, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id < 20
),
storedocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
shn AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM newdocs)
  WHERE len(w) >= 3
),
shs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM storedocs)
  WHERE len(w) >= 3
),
sgn AS (SELECT doc_id, {_X45_SIG_SQL} AS g FROM shn),
sgs AS (SELECT doc_id, {_X45_SIG_SQL} AS g FROM shs),
bn AS (
  SELECT doc_id, g, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sgn, unnest([0, 1, 2]) AS u(b)
),
bs AS (
  SELECT doc_id, g, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sgs, unnest([0, 1, 2]) AS u(b)
),
cand AS (
  SELECT new_id, est FROM (
    SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id,
           CAST(len(list_filter(range(1, 13), i -> n.g[i] = s.g[i])) AS DOUBLE)
           / 12.0 AS est
    FROM bn n JOIN bs s ON n.b = s.b AND n.bkey = s.bkey
  )
  UNION ALL
  SELECT new_id, est FROM (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS other_id,
           CAST(len(list_filter(range(1, 13), i -> a.g[i] = b.g[i])) AS DOUBLE)
           / 12.0 AS est
    FROM bn a JOIN bn b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id > b.doc_id
  )
),
agg AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         MAX(est) AS max_est
  FROM cand GROUP BY new_id
)
SELECT d.doc_id,
       COALESCE(a.n_candidates, 0) AS n_candidates,
       COALESCE(a.max_est, 0.0) AS max_est,
       COALESCE(a.max_est, 0.0) >= 0.5 AS is_dup
FROM newdocs d LEFT JOIN agg a ON a.new_id = d.doc_id
"""


@register("x45_incremental_minhash_dedup", oracle=_X45_ORACLE)
def x45_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-signature-store near-dup admission: the store carries
    only (id, signature) — no text re-read for ingested docs; new
    docs are flagged from the band-bucket joins and the MinHash
    position-match estimator."""
    from docker_etl_spark.operators._util import spread_for_compute
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        minhash_signature,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    # the fixture derives the store from text in-query: spread it (a
    # production store is pre-partitioned parquet and skips this)
    store = spread_for_compute(
        d.filter(F.col("doc_id") % 2 == 0).filter(
            F.size(F.split("text", " ")) >= 3
        )
    ).select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    ).localCheckpoint(eager=False)
    new = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text").unionByName(
        d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).select(
            (F.col("doc_id") + 1_000_001).alias("doc_id"), "text"
        )
    )
    return incremental_minhash_dedup(
        new, store, num_perm=12, bands=3, est_threshold=0.5, hash_fn="md5"
    )


# ---------------------------------------------------------------------------
# x53 — x45's incremental store dedup on the xxhash64 FAST path (the
# production hash: native long hashing instead of 12 md5 string
# digests per doc — x45 is the rows-linear CPU envelope and the md5
# permutations are its cost). xxhash64 values are engine-specific, so
# the oracle is hash-INDEPENDENT in x09's style: ground truth = docs
# with an exact-shingle-Jaccard >= threshold twin among store docs or
# earlier batch docs, brute-forced in SQL. Matching it asserts the
# banding has complete recall AND the position-match estimator agrees
# with exact Jaccard on every is_dup decision at this corpus — safe
# because the corpus is maximally separated (verified empirically at
# sf0.001/0.01/0.1: every true pair has J >= 0.9, NO pair lands in
# (0.35, 0.9), so the 12/3 banding cannot miss and the estimator
# cannot false-positive). Output carries only the hash-independent
# columns (doc_id, is_dup).
# ---------------------------------------------------------------------------

_X53_ORACLE = """
WITH newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000001, text FROM documents
  WHERE doc_id % 2 = 0 AND doc_id < 20
),
storedocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
shn AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM newdocs)
  WHERE len(w) >= 3
),
shs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM storedocs)
  WHERE len(w) >= 3
),
truth AS (
  SELECT n.doc_id FROM shn n JOIN shs s
    ON CAST(len(list_intersect(n.s, s.s)) AS DOUBLE)
       / (len(n.s) + len(s.s) - len(list_intersect(n.s, s.s))) >= 0.5
  UNION
  SELECT a.doc_id FROM shn a JOIN shn b
    ON a.doc_id > b.doc_id
   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
)
SELECT d.doc_id, t.doc_id IS NOT NULL AS is_dup
FROM newdocs d LEFT JOIN truth t ON t.doc_id = d.doc_id
"""


@register("x53_incremental_minhash_fast", oracle=_X53_ORACLE)
def x53_incremental_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x45's batch-vs-signature-store admission on the xxhash64 fast
    path: same 12-perm/3-band shape as x45 so the comparison is
    apples-to-apples — the only change is native long hashes instead
    of md5 string digests, the per-row CPU that made x45 the
    rows-linear envelope. The store holds array<bigint> signatures."""
    from docker_etl_spark.operators._util import spread_for_compute
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        minhash_signature,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    store = spread_for_compute(
        d.filter(F.col("doc_id") % 2 == 0).filter(
            F.size(F.split("text", " ")) >= 3
        )
    ).select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "xxhash64").alias("sig"),
    ).localCheckpoint(eager=False)
    new = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text").unionByName(
        d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20)).select(
            (F.col("doc_id") + 1_000_001).alias("doc_id"), "text"
        )
    )
    return incremental_minhash_dedup(
        new, store, num_perm=12, bands=3, est_threshold=0.5, hash_fn="xxhash64"
    ).select("doc_id", "is_dup")


# ---------------------------------------------------------------------------
# cd02 — incremental COUNT(DISTINCT) via mergeable HLL sketches:
# per-day sketches (materializable binary columns) union-merged to
# weekly estimates WITHOUT re-scanning raw events — the MAU recipe
# at 100 TB (a week = merging 7 stored sketch rows, not a
# week-wide shuffle of user ids). Sketch bytes are engine-specific,
# so the differential contract is cd01's: the merged estimate must
# land within the configured error of the exact count.
# ---------------------------------------------------------------------------

_CD02_ORACLE = """
SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY 1
"""


@register("cd02_incremental_distinct_sketches", oracle=_CD02_ORACLE)
def cd02_incremental_distinct_sketches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily HLL sketches -> weekly merge -> estimate, guardrailed
    against the exact per-month distinct count (|est - exact| <= 5%).
    The daily stage is what a pipeline materializes; the monthly
    number never touches raw ids again."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    daily = ev.groupBy(
        week.alias("week"), F.col("ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
    weekly = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    exact = ev.groupBy(week.alias("week")).agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(F.broadcast(weekly), "week").select(
        "week",
        "exact_users",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
            <= 0.05 * F.col("exact_users").cast("double")
        ).alias("within_5pct"),
    )


# ---------------------------------------------------------------------------
# w10 — date-spine densify + forward fill (operators/windows.
# forward_fill ∘ operators/joins.date_spine): sparse per-user daily
# series -> continuous series carrying the last observation forward.
# ---------------------------------------------------------------------------

_W10_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
  FROM events WHERE user_id < 10
  GROUP BY user_id, CAST(ts AS DATE)
),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
dense AS (
  SELECT u.user_id, s.day, d.v
  FROM (SELECT DISTINCT user_id FROM daily) u
  CROSS JOIN spine s
  LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day
)
SELECT user_id, day,
       LAST_VALUE(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_filled
FROM dense
"""


@register("w10_forward_fill", oracle=_W10_ORACLE)
def w10_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify sparse per-user daily totals over the full date spine,
    then forward-fill gaps — one cross of (users x spine) via a
    broadcast spine, one left join, one window per key. Leading
    NULLs stay NULL (no earlier observation). The spine bounds come
    from an in-plan 1-row aggregate exploded through ``sequence`` —
    ZERO driver actions in this builder; Spark evaluates the bounds
    inside the same job that runs the query."""
    from docker_etl_spark.operators.windows import forward_fill

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(_dbl(F.sum(_dec("value"))).alias("v"))
    bounds = daily.agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
    spine = bounds.select(
        F.explode(F.sequence("_lo", "_hi")).alias("day")
    )
    users = daily.select("user_id").distinct()
    dense = (
        users.crossJoin(F.broadcast(spine))
        .join(daily, ["user_id", "day"], "left")
    )
    return forward_fill(dense, ["user_id"], "day", ["v"]).select(
        "user_id", "day", F.col("v").alias("v_filled")
    )


# ---------------------------------------------------------------------------
# lo02 — Z-order layout key (functions/scalars.zorder_key): Morton
# interleave of (customer bucket, order day-of-year), plus the
# locality evidence — bucketing rows into zorder-contiguous "files"
# and counting how many distinct day values land in each (clustered
# layouts put few per file, so day-range predicates prune). All
# integer arithmetic; the oracle replays the interleave with the
# same shifts.
# ---------------------------------------------------------------------------

_LO02_BITS = 9
_LO02_ZEXPR = " + ".join(
    f"(((ck >> {i}) & 1) << {2 * i}) + (((dy >> {i}) & 1) << {2 * i + 1})"
    for i in range(_LO02_BITS)
)

_LO02_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(o_custkey % 512 AS BIGINT) AS ck,
         CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS dy
  FROM orders
),
z AS (SELECT o_orderkey, ck, dy, CAST({_LO02_ZEXPR} AS BIGINT) AS zkey FROM base),
filed AS (
  SELECT *, CAST((ROW_NUMBER() OVER (ORDER BY zkey, o_orderkey) - 1) // 1000 AS BIGINT)
            AS file_id
  FROM z
)
SELECT file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT dy) AS BIGINT) AS distinct_days,
       CAST(MIN(zkey) AS BIGINT) AS z_lo,
       CAST(MAX(zkey) AS BIGINT) AS z_hi
FROM filed GROUP BY file_id
"""


@register("lo02_zorder_layout", oracle=_LO02_ORACLE)
def lo02_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the orders table on (customer bucket, day-of-year) and
    census the resulting 1000-row "files": low distinct_days per file
    is the pruning win a min/max-stats reader gets on day-range
    predicates after a single zorder sort. (The census's global
    row_number is fixture-only bookkeeping; the production layout
    path is ``repartitionByRange(n, zkey)`` + sortWithinPartitions —
    fully distributed.)"""
    from docker_etl_spark.functions.scalars import zorder_key

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 512).cast("bigint").alias("ck"),
        F.dayofyear(F.col("o_orderdate").cast("date")).cast("bigint").alias("dy"),
    )
    z = base.withColumn("zkey", zorder_key("ck", "dy", bits=_LO02_BITS))
    w = Window.orderBy("zkey", "o_orderkey")
    filed = z.withColumn(
        "file_id", ((F.row_number().over(w) - 1) / 1000).cast("bigint")
    )
    return filed.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_distinct("dy").cast("bigint").alias("distinct_days"),
        F.min("zkey").cast("bigint").alias("z_lo"),
        F.max("zkey").cast("bigint").alias("z_hi"),
    )


# ---------------------------------------------------------------------------
# x46 — hashed linear text classifier, fully JVM-side
# (operators/inference.hashed_linear_scores): the fastText-style
# hashing-trick quality scorer — token -> md5 bucket -> weight
# lookup -> exact integer accumulation. The inference fast path that
# complements i01's Arrow seam: a linear model needs no Python stage
# at all, so corpus scoring is map-side and shuffle-free.
# ---------------------------------------------------------------------------

_X46_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents
),
b AS (
  SELECT doc_id,
         list_sum(list_transform(range(1, 9),
           i -> CAST(strpos('0123456789abcdef',
                            substring(substring(md5(t), 1, 8), i, 1)) - 1
                     AS BIGINT)
                * CAST(16 ** (8 - i) AS BIGINT))) % 1024 AS bkt
  FROM tok
),
w AS (SELECT doc_id, ((bkt * 2654435761) % 2001) - 1000 AS wt FROM b)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(wt) AS BIGINT) AS score_sum,
       CAST(SUM(wt) AS DOUBLE) / (1000.0 * COUNT(*)) AS mean_score
FROM w GROUP BY doc_id
"""


@register("x46_hashed_classifier", oracle=_X46_ORACLE)
def x46_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document linear-classifier scores over hashed unigrams
    (1024 buckets, deterministic stand-in weights): one md5 + one
    weight lookup per token, exact bigint accumulation, one IEEE
    division at the edge — zero joins, zero explodes, zero Python."""
    from docker_etl_spark.operators.inference import hashed_linear_scores

    d = load_docs_spread(spark, sf_dir)
    return hashed_linear_scores(d, text_col="text", id_cols=("doc_id",))


# ---------------------------------------------------------------------------
# x47 — incremental embedding dedup vs a vector store
# (operators/similarity.incremental_embedding_dedup): x45's
# continuous-corpus-build admission gate for the embedding modality.
# Store = even vec_ids; batch = odd vec_ids + planted near-copies of
# even ids < 10 (one component nudged, id + 1_000_001) so the
# batch-vs-store leg provably fires; batch-internal candidates come
# from the earlier-id self-join. All int64 until the final division.
# ---------------------------------------------------------------------------

_X47_THRESHOLD = 0.9

_X47_ORACLE = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(dv, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v
  FROM base
),
store AS (SELECT vec_id, v FROM q WHERE vec_id % 2 = 0),
newv AS (
  SELECT vec_id, v FROM q WHERE vec_id % 2 = 1
  UNION ALL
  SELECT vec_id + 1000001,
         list_transform(range(1, 65),
           i -> CAST(FLOOR((dv[i] + CASE WHEN i = 1 THEN 0.01 ELSE 0 END) * 1000)
                     AS BIGINT))
  FROM base WHERE vec_id % 2 = 0 AND vec_id < 10
),
tabs AS (SELECT unnest(range(0, 2)) AS tbl),
nb AS (
  SELECT vec_id, v, tbl, {_signlsh_bucket_case_sql(64, 8, 2, 42)} AS bkt
  FROM newv, tabs
),
sb AS (
  SELECT vec_id, v, tbl, {_signlsh_bucket_case_sql(64, 8, 2, 42)} AS bkt
  FROM store, tabs
),
cand AS (
  SELECT DISTINCT n.vec_id AS new_id, s.vec_id AS other_id,
         n.v AS nv, s.v AS ov
  FROM nb n JOIN sb s ON n.tbl = s.tbl AND n.bkt = s.bkt
  UNION
  SELECT DISTINCT a.vec_id, b.vec_id, a.v, b.v
  FROM nb a JOIN nb b
    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id > b.vec_id
),
scored AS (
  SELECT new_id,
         CAST(list_sum(list_transform(range(1, 65), i -> nv[i] * ov[i])) AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(nv, x -> x * x))
                       * list_sum(list_transform(ov, x -> x * x)) AS DOUBLE)) AS cos
  FROM cand
),
agg AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_candidates, MAX(cos) AS max_cos
  FROM scored GROUP BY new_id
)
SELECT n.vec_id,
       COALESCE(a.n_candidates, 0) AS n_candidates,
       COALESCE(a.max_cos, 0.0) AS max_cos,
       COALESCE(a.max_cos, 0.0) >= {_X47_THRESHOLD} AS is_dup
FROM (SELECT vec_id FROM newv) n LEFT JOIN agg a ON a.new_id = n.vec_id
"""


@register("x47_incremental_embedding_dedup", oracle=_X47_ORACLE)
def x47_incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-vector-store near-dup admission over embeddings:
    sign-LSH bucket equi-joins generate candidates (batch x store and
    batch x earlier-in-batch), the exact-int cosine scores them, and
    the planted near-copies of stored vectors are flagged. The x45
    incremental pattern for the embedding modality."""
    from docker_etl_spark.operators.similarity import incremental_embedding_dedup

    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("dv"))
    quant = F.expr(_QUANTIZE_SQL.format(src="dv"))
    store = base.filter(F.col("vec_id") % 2 == 0).select("vec_id", quant.alias("vec"))
    planted = base.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 10)).select(
        (F.col("vec_id") + 1_000_001).alias("vec_id"),
        F.transform(
            "dv", lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("dv"),
    ).select("vec_id", quant.alias("vec"))
    batch = (
        base.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", quant.alias("vec"))
        .unionByName(planted)
    )
    return incremental_embedding_dedup(
        batch, store, dim=64, threshold=_X47_THRESHOLD,
        n_planes=8, n_tables=2, seed=42,
    )


# ---------------------------------------------------------------------------
# pd01 — k-anonymity small-cell suppression
# (operators/profiling.kanon_aggregate): the publish-safety guard the
# reference dashboards apply implicitly via sampling + per-client
# dedup (graphics_dashboard.sql:28-39,164-169), made explicit — no
# published row describes < 50 distinct users; suppressed cells
# collapse into one NULL-keyed rollup so totals survive. At sf0.01
# the fixture splits 112 published / 38 suppressed groups, so both
# arms are exercised.
# ---------------------------------------------------------------------------

_PD01_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(dayofmonth(ts) AS INT) AS dom, user_id,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
g AS (
  SELECT event_type, dom,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities,
         SUM(v) AS v
  FROM base GROUP BY 1, 2
),
small AS (SELECT event_type, dom FROM g WHERE n_entities < 50),
roll AS (
  SELECT CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS INT) AS dom,
         CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_entities,
         SUM(b.v) AS v
  FROM base b SEMI JOIN small s
    ON b.event_type = s.event_type AND b.dom = s.dom
)
SELECT event_type, dom, n_entities, CAST(v AS DOUBLE) AS v_sum
FROM g WHERE n_entities >= 50
UNION ALL
SELECT event_type, dom, n_entities, CAST(v AS DOUBLE) AS v_sum
FROM roll WHERE n_entities > 0
"""


@register("pd01_kanon_publish", oracle=_PD01_ORACLE)
def pd01_kanon_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day-of-month) user counts + value sums with
    k=50 small-cell suppression: under-threshold cells fold into one
    NULL-keyed rollup (exact distinct count across the collapsed
    cells via a key semi-join — never a sum of per-cell distincts)."""
    from docker_etl_spark.operators.profiling import kanon_aggregate

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.dayofmonth("ts").cast("int").alias("dom"),
        "user_id",
        _dec("value").alias("v"),
    )
    out = kanon_aggregate(base, ["event_type", "dom"], "user_id", 50, ["v"])
    return out.select(
        "event_type", "dom", "n_entities", F.col("v").cast("double").alias("v_sum")
    )


# ---------------------------------------------------------------------------
# x48 — SemDeDup with the oversized-cluster sub-bucketing ENGAGED
# (operators/similarity.semantic_dedup(max_cluster_size=...,
# sub_bucket_planes=...)): x37 verifies the inert path; this query
# drops the cap to 20 so at sf0.01 every cluster is oversized and the
# in-cell sign-LSH sub-bucketing runs under the differential oracle.
# The plane count is PINNED (sub_bucket_planes=2) because a static
# SQL replay needs a fixed plane matrix; production leaves it None
# (auto-sized from the biggest cluster).
# ---------------------------------------------------------------------------


def _signlsh_bucket_sql_single(dim: int, n_planes: int, seed: int) -> str:
    """DuckDB fragment for the engine's in-cell sub-bucket: same
    quantized planes, sign bits ORed into one int (column ``v``)."""
    from docker_etl_spark.operators.similarity import (
        quantize_planes,
        random_hyperplanes,
    )

    planes = quantize_planes(random_hyperplanes(dim, n_planes, seed))
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> v[i] * ([{','.join(map(str, row))}])[i])) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, row in enumerate(planes)
    )


_X48_CAP = 20

_X48_ORACLE = _kmeans_ctes(_X37_SRC) + f""",
sizes AS (SELECT cid, COUNT(*) AS cn FROM assign2 GROUP BY cid),
subbed AS (
  SELECT a.id, a.v, a.cid,
         CASE WHEN s.cn > {_X48_CAP}
              THEN {_signlsh_bucket_sql_single(64, 2, 42)}
              ELSE 0 END AS sb
  FROM assign2 a JOIN sizes s USING (cid)
),
norms AS (
  SELECT id, v, cid, sb,
         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS n
  FROM subbed
),
pairs AS (
  SELECT a.cid, b.id AS id_b
  FROM norms a JOIN norms b
    ON a.cid = b.cid AND a.sb = b.sb AND a.id < b.id
   AND a.n > 0 AND b.n > 0
  WHERE CAST(list_sum(list_transform(range(1, 65),
                                     i -> a.v[i] * b.v[i])) AS DOUBLE)
        / sqrt(CAST(a.n * b.n AS DOUBLE)) >= {_X37_THRESHOLD}
),
dropped AS (SELECT DISTINCT cid, id_b AS id FROM pairs),
census AS (
  SELECT cid,
         CAST(COUNT(DISTINCT sb) AS BIGINT) AS n_subbuckets,
         CAST(SUM(sb * id) AS BIGINT) AS bucket_checksum
  FROM subbed GROUP BY cid
)
SELECT a.cid AS cluster_id,
       COUNT(*) AS n_members,
       CAST(COUNT(d.id) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN d.id IS NULL THEN a.id ELSE 0 END) AS BIGINT)
           AS survivor_id_sum,
       MIN(c.n_subbuckets) AS n_subbuckets,
       MIN(c.bucket_checksum) AS bucket_checksum
FROM assign2 a
LEFT JOIN dropped d ON a.cid = d.cid AND a.id = d.id
JOIN census c ON c.cid = a.cid
GROUP BY a.cid
"""


@register("x48_semantic_dedup_subbucketed", oracle=_X48_ORACLE)
def x48_semantic_dedup_subbucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37's SemDeDup with the oversized-cluster guard forced on
    (cap 20, 2 pinned planes): every sf0.01 cluster exceeds the cap,
    so pairs form only within (cluster, sign-LSH sub-bucket) — the
    100 TB skew remedy itself running under the hash-matched
    differential contract, not just unit tests. Because the fixture's
    only threshold-crossing pairs (the planted twins) never split
    across sub-buckets, drops alone cannot distinguish a bucketing
    bug — so the output ALSO carries a per-cluster sub-bucket census
    (distinct buckets + sum(bucket·id) checksum) that pins every
    vector's in-cell bucket value against the oracle."""
    from docker_etl_spark.operators.similarity import (
        kmeans_assign_quantized,
        random_hyperplanes,
        semantic_dedup,
        signlsh_bucket,
    )

    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("dv"))
    planted = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            dvec, lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("dv"),
    )
    aug = base.unionByName(planted)
    assigned, cents = kmeans_assign_quantized(aug, "dv", "vec_id", _X23_K, 2, 1000)
    assigned = assigned.localCheckpoint(eager=False)  # dedup + census share it
    out = semantic_dedup(
        aug,
        vec_col="dv",
        id_col="vec_id",
        k=_X23_K,
        iterations=2,
        threshold=_X37_THRESHOLD,
        max_cluster_size=_X48_CAP,
        sub_bucket_planes=2,
        star_bucket_cap=None,  # tier 2 ONLY — x49 verifies tier 3
        precomputed_assignment=(assigned, cents),
        # deliberate small-fixture replay of the quadratic-at-scale
        # config (the oracle needs a fixed plane matrix); the runtime
        # warning exists precisely for anyone cargo-culting this
        warn_scale_unsafe=False,
    )
    sizes = assigned.groupBy("__cluster").agg(F.count("*").alias("cn"))
    bkt = signlsh_bucket(
        F.col("__vq"), random_hyperplanes(64, 2, 42), exact_int=True
    )
    subbed = assigned.join(F.broadcast(sizes), "__cluster").withColumn(
        "sb",
        F.when(F.col("cn") > _X48_CAP, bkt).otherwise(F.lit(0)).cast("bigint"),
    )
    census = subbed.groupBy(
        F.col("__cluster").cast("bigint").alias("cluster_id")
    ).agg(
        F.count_distinct("sb").cast("bigint").alias("n_subbuckets"),
        F.sum(F.col("sb") * F.col("__id")).cast("bigint").alias("bucket_checksum"),
    )
    return out.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "n_dropped",
        "survivor_id_sum",
    ).join(census, "cluster_id")


# ---------------------------------------------------------------------------
# x49 — SemDeDup tier 3 (leader/star fallback) under the driver gate:
# x48's configuration plus star_bucket_cap=30, chosen so the sf0.01
# sub-buckets (18-62 members) split into BOTH arms — 7 buckets keep
# exact all-pairs, 9 switch to hub-only comparisons. The oracle
# replays the mixed-arm semantics (bucket census gates each arm) and
# the output carries the per-cluster count of star-engaged buckets,
# so the differential pins arm SELECTION as well as the drops.
# ---------------------------------------------------------------------------

_X49_STAR_CAP = 30

_X49_ORACLE = _kmeans_ctes(_X37_SRC) + f""",
sizes AS (SELECT cid, COUNT(*) AS cn FROM assign2 GROUP BY cid),
subbed AS (
  SELECT a.id, a.v, a.cid,
         CASE WHEN s.cn > {_X48_CAP}
              THEN {_signlsh_bucket_sql_single(64, 2, 42)}
              ELSE 0 END AS sb
  FROM assign2 a JOIN sizes s USING (cid)
),
norms0 AS (
  SELECT id, v, cid, sb,
         list_sum(list_transform(range(1, 65), i -> v[i] * v[i])) AS n
  FROM subbed
),
bstats AS (
  SELECT cid, sb, COUNT(*) AS bn, MIN(id) AS hub
  FROM norms0 WHERE n > 0 GROUP BY cid, sb
),
norms AS (
  SELECT n0.*, b.bn, b.hub
  FROM norms0 n0 JOIN bstats b ON b.cid = n0.cid AND b.sb = n0.sb
),
pairs AS (
  SELECT a.cid, b.id AS id_b
  FROM norms a JOIN norms b
    ON a.cid = b.cid AND a.sb = b.sb AND a.id < b.id
   AND a.n > 0 AND b.n > 0 AND b.bn <= {_X49_STAR_CAP}
  WHERE CAST(list_sum(list_transform(range(1, 65),
                                     i -> a.v[i] * b.v[i])) AS DOUBLE)
        / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) >= {_X37_THRESHOLD}
  UNION
  SELECT m.cid, m.id
  FROM norms m JOIN norms h
    ON h.cid = m.cid AND h.sb = m.sb AND h.id = m.hub
   AND m.id > m.hub AND m.bn > {_X49_STAR_CAP}
   AND m.n > 0 AND h.n > 0
  WHERE CAST(list_sum(list_transform(range(1, 65),
                                     i -> h.v[i] * m.v[i])) AS DOUBLE)
        / sqrt(CAST(h.n AS DOUBLE) * CAST(m.n AS DOUBLE)) >= {_X37_THRESHOLD}
),
dropped AS (SELECT DISTINCT cid, id_b AS id FROM pairs),
starcnt AS (
  SELECT cid,
         CAST(SUM(CASE WHEN bn > {_X49_STAR_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_star_buckets
  FROM bstats GROUP BY cid
)
SELECT a.cid AS cluster_id,
       COUNT(*) AS n_members,
       CAST(COUNT(d.id) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN d.id IS NULL THEN a.id ELSE 0 END) AS BIGINT)
           AS survivor_id_sum,
       MIN(sc.n_star_buckets) AS n_star_buckets
FROM assign2 a
LEFT JOIN dropped d ON a.cid = d.cid AND a.id = d.id
JOIN starcnt sc ON sc.cid = a.cid
GROUP BY a.cid
"""


@register("x49_semantic_dedup_star", oracle=_X49_ORACLE)
def x49_semantic_dedup_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with BOTH scale tiers engaged and mixed: sub-buckets
    at or under 30 members keep exact all-pairs, larger ones compare
    members only to their min-id hub (the O(n) leader fallback the
    100x sweep showed is what makes dense mega-buckets tractable).
    n_star_buckets pins per cluster how many buckets took the star
    arm — the differential verifies arm selection, not just drops."""
    from docker_etl_spark.operators.similarity import (
        dot_int,
        kmeans_assign_quantized,
        random_hyperplanes,
        semantic_dedup,
        signlsh_bucket,
    )

    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", dvec.alias("dv"))
    planted = em.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            dvec, lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x)
        ).alias("dv"),
    )
    aug = base.unionByName(planted)
    assigned, cents = kmeans_assign_quantized(aug, "dv", "vec_id", _X23_K, 2, 1000)
    assigned = assigned.localCheckpoint(eager=False)
    out = semantic_dedup(
        aug,
        vec_col="dv",
        id_col="vec_id",
        k=_X23_K,
        iterations=2,
        threshold=_X37_THRESHOLD,
        max_cluster_size=_X48_CAP,
        sub_bucket_planes=2,
        star_bucket_cap=_X49_STAR_CAP,
        precomputed_assignment=(assigned, cents),
    )
    sizes = assigned.groupBy("__cluster").agg(F.count("*").alias("cn"))
    bkt = signlsh_bucket(
        F.col("__vq"), random_hyperplanes(64, 2, 42), exact_int=True
    )
    vv = (
        assigned.join(F.broadcast(sizes), "__cluster")
        .withColumn(
            "sb",
            F.when(F.col("cn") > _X48_CAP, bkt).otherwise(F.lit(0)).cast("bigint"),
        )
        .filter(dot_int(F.col("__vq"), F.col("__vq")) > 0)
    )
    starcnt = (
        vv.groupBy("__cluster", "sb")
        .agg(F.count("*").alias("bn"))
        .groupBy(F.col("__cluster").cast("bigint").alias("cluster_id"))
        .agg(
            F.sum(F.when(F.col("bn") > _X49_STAR_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_star_buckets")
        )
    )
    return out.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_members",
        "n_dropped",
        "survivor_id_sum",
    ).join(starcnt, "cluster_id")


# ---------------------------------------------------------------------------
# x50 — curriculum ordering buckets: documents ranked by a composite
# quality score and cut into 4 curriculum stages (train easy→hard or
# high→low quality — the data-ordering knob of a training pipeline).
# ntile gives equal-population stages; per-stage stats prove the
# ordering is monotone in the score. Integer-exact score so the
# bucket boundaries are engine-portable.
# ---------------------------------------------------------------------------

_X50_ORACLE = """
WITH s AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) * 1000
           + CAST(length(text) % 997 AS BIGINT) AS q_score
  FROM documents
),
t AS (
  SELECT doc_id, q_score,
         CAST(NTILE(4) OVER (ORDER BY q_score DESC, doc_id ASC) AS BIGINT)
             AS stage
  FROM s
)
SELECT stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(q_score) AS BIGINT) AS min_score,
       CAST(MAX(q_score) AS BIGINT) AS max_score,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM t GROUP BY stage
"""


@register("x50_curriculum_buckets", oracle=_X50_ORACLE)
def x50_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population curriculum stages over a deterministic
    integer quality score (token count dominant, length-hash
    tiebreak), highest-quality stage first. The global ntile is the
    fixture form; at 100 TB the same cut comes from approx
    percentile boundaries broadcast as a threshold dim (the x43
    adaptive-floor pattern) — no global sort."""
    d = load_docs_spread(spark, sf_dir)
    from docker_etl_spark.operators.corpus import doc_tokens

    s = d.select(
        "doc_id",
        (
            F.size(doc_tokens("text")).cast("bigint") * 1000
            + (F.length("text") % 997).cast("bigint")
        ).alias("q_score"),
    )
    w = Window.orderBy(F.desc("q_score"), F.asc("doc_id"))
    t = s.withColumn("stage", F.ntile(4).over(w).cast("bigint"))
    return t.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("q_score").cast("bigint").alias("min_score"),
        F.max("q_score").cast("bigint").alias("max_score"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# x51 — mixture epoch plan: given per-source available tokens and
# target mixture weights, compute each source's target tokens and
# the repetition factor (epochs) its data needs — the planning twin
# of the executing samplers (x21 rate mixture, x35 budget cap, x38
# temperature mixture). Data-constrained scaling makes epochs>1 the
# normal case for rare sources; surfacing the factor per source is
# the knob a training run reads. ceil-to-int epochs and integer
# token math keep the plan engine-portable.
# ---------------------------------------------------------------------------

_X51_TARGET_TOKENS = 40_000

_X51_ORACLE = f"""
WITH avail AS (
  SELECT source,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
             AS available_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(available_tokens) AS t FROM avail),
plan AS (
  SELECT a.source, a.n_docs, a.available_tokens,
         CAST(FLOOR({_X51_TARGET_TOKENS} * a.available_tokens
                    / CAST(t.t AS DOUBLE)) AS BIGINT) AS target_tokens
  FROM avail a, tot t
)
SELECT source, n_docs, available_tokens, target_tokens,
       CAST(CEIL(target_tokens / CAST(available_tokens AS DOUBLE)) AS BIGINT)
           AS epochs
FROM plan
"""


@register("x51_mixture_epoch_plan", oracle=_X51_ORACLE)
def x51_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture plan at a 40k-token target with
    proportional-to-available weights: available tokens (one scan +
    one k-row agg), floor-int target allocation, ceil-int epochs.
    Output is a SOURCES-sized dim — broadcastable into whichever
    sampler executes the plan."""
    d = load_docs_spread(spark, sf_dir)
    from docker_etl_spark.operators.corpus import doc_tokens

    avail = d.groupBy("source").agg(
        F.sum(F.size(doc_tokens("text"))).cast("bigint").alias("available_tokens"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    tot = F.sum("available_tokens").over(Window.partitionBy())
    plan = avail.withColumn(
        "target_tokens",
        F.floor(
            F.lit(_X51_TARGET_TOKENS)
            * F.col("available_tokens")
            / tot.cast("double")
        ).cast("bigint"),
    )
    return plan.select(
        "source",
        "n_docs",
        "available_tokens",
        "target_tokens",
        F.ceil(
            F.col("target_tokens") / F.col("available_tokens").cast("double")
        )
        .cast("bigint")
        .alias("epochs"),
    )


# ---------------------------------------------------------------------------
# x52 — dedup-quality evaluation harness: plant near-dup twins (each
# doc_id < 40 re-emitted with its LAST token dropped, id + 2_000_000),
# run the production MinHash+LSH pipeline over the augmented corpus,
# and score it — planted-pair recall plus the count of organic pairs.
# The approximation detectors (LSH banding, jaccard verify) are
# usually shipped on faith; this makes their quality a MEASURED,
# oracle-replayable quantity the pipeline can regression-test.
# ---------------------------------------------------------------------------

_X52_ORACLE = """
WITH base AS (SELECT doc_id, text FROM documents),
planted AS (
  SELECT doc_id AS id_a, doc_id + 2000000 AS id_b,
         array_to_string(
           list_slice(string_split(text, ' '), 1,
                      len(string_split(text, ' ')) - 1), ' ') AS ptext
  FROM base
  WHERE doc_id < 40 AND len(string_split(text, ' ')) >= 4
),
aug AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT id_b, ptext FROM planted
),
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM tok WHERE len(w) >= 3
),
sig AS (
  SELECT doc_id, s,
         [list_min(list_transform(s, x -> md5(x || 'p0'))),
          list_min(list_transform(s, x -> md5(x || 'p1'))),
          list_min(list_transform(s, x -> md5(x || 'p2'))),
          list_min(list_transform(s, x -> md5(x || 'p3'))),
          list_min(list_transform(s, x -> md5(x || 'p4'))),
          list_min(list_transform(s, x -> md5(x || 'p5'))),
          list_min(list_transform(s, x -> md5(x || 'p6'))),
          list_min(list_transform(s, x -> md5(x || 'p7'))),
          list_min(list_transform(s, x -> md5(x || 'p8'))),
          list_min(list_transform(s, x -> md5(x || 'p9'))),
          list_min(list_transform(s, x -> md5(x || 'p10'))),
          list_min(list_transform(s, x -> md5(x || 'p11')))] AS g
  FROM sh
),
bands AS (
  SELECT doc_id, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sig, unnest([0, 1, 2]) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
),
stats AS (
  SELECT CAST(COUNT(p.id_a) AS BIGINT) AS n_recovered,
         CAST(SUM(CASE WHEN p.id_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_other_pairs
  FROM verified v LEFT JOIN planted p ON v.id_a = p.id_a AND v.id_b = p.id_b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM planted) AS n_planted,
       s.n_recovered,
       s.n_recovered / CAST((SELECT COUNT(*) FROM planted) AS DOUBLE) AS recall,
       s.n_other_pairs
FROM stats s
"""


@register("x52_dedup_recall_eval", oracle=_X52_ORACLE)
def x52_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-twin recall of the x05 MinHash+LSH configuration:
    40 near-dup pairs planted (one token dropped), the pipeline run
    on the augmented corpus, recall + organic-pair count reported as
    one row. Broadcast 1-row aggregates on both sides of the final
    combine — no shuffles beyond the pipeline's own."""
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    planted = d.filter((F.col("doc_id") < 40) & (F.size(toks) >= 4)).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 2_000_000).alias("id_b"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("ptext"),
    ).localCheckpoint(eager=False)
    aug = d.unionByName(
        planted.select(F.col("id_b").alias("doc_id"), F.col("ptext").alias("text"))
    )
    pairs = minhash_near_duplicates(
        aug, num_perm=12, bands=3, threshold=0.5, hash_fn="md5"
    )
    marked = pairs.join(
        F.broadcast(planted.select("id_a", "id_b").withColumn("__p", F.lit(True))),
        ["id_a", "id_b"],
        "left",
    )
    stats = marked.agg(
        F.sum(F.when(F.col("__p"), 1).otherwise(0)).cast("bigint").alias("n_recovered"),
        F.sum(F.when(F.col("__p").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_other_pairs"),
    )
    n_planted = planted.agg(F.count("*").cast("bigint").alias("n_planted"))
    return (
        F.broadcast(n_planted)
        .crossJoin(stats)
        .select(
            "n_planted",
            F.coalesce(F.col("n_recovered"), F.lit(0)).cast("bigint").alias("n_recovered"),
            (
                F.coalesce(F.col("n_recovered"), F.lit(0)).cast("double")
                / F.col("n_planted").cast("double")
            ).alias("recall"),
            F.coalesce(F.col("n_other_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_other_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# x54 — CROSS-document exact substring dedup
# (operators/corpus.cross_doc_span_dedup): the windowed-hash variant
# of suffix-array substring dedup (Lee et al. 2022). Any 6-token
# window occurring in >= 2 distinct documents is owned by the min-id
# document; every other document has the covering tokens excised.
# The engine groups on xxhash64(window_text); the oracle groups on
# window text itself, so a hash-match additionally certifies zero
# xxhash64 collisions on this corpus. Complements x05/x10 (document
# granularity) and x34/x40 (fixed-chunk granularity) with
# arbitrary-alignment span granularity.
# ---------------------------------------------------------------------------

_X54_K = 6

_X54_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
wins AS (
  SELECT doc_id, w,
         unnest(CASE WHEN len(w) >= {_X54_K}
                     THEN range(1, len(w) - {_X54_K} + 2)
                     ELSE CAST([] AS BIGINT[]) END) AS pos
  FROM tok
),
wk AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(w, pos, pos + {_X54_K} - 1), ' ') AS wt
  FROM wins
),
dup AS (
  SELECT wt, min(doc_id) AS owner FROM wk
  GROUP BY wt HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT wk.doc_id, wk.pos FROM wk JOIN dup ON wk.wt = dup.wt
  WHERE wk.doc_id <> dup.owner
),
cov AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM hits GROUP BY doc_id),
mask AS (
  SELECT t.doc_id, t.w,
         list_filter(range(1, len(t.w) + 1),
           p -> len(list_filter(coalesce(c.starts, CAST([] AS BIGINT[])),
                                s -> p >= s AND p < s + {_X54_K})) = 0) AS kept
  FROM tok t LEFT JOIN cov c USING (doc_id))
SELECT doc_id,
       coalesce(array_to_string(list_transform(kept, p -> w[p]), ' '), '')
           AS clean_text,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(w) - len(kept) AS DOUBLE) / CAST(len(w) AS DOUBLE)
           AS removed_frac
FROM mask
"""


@register("x54_cross_doc_span_dedup", oracle=_X54_ORACLE)
def x54_cross_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact substring dedup over the documents table
    (6-token windows, min-id owner keeps each duplicated span)."""
    from docker_etl_spark.operators.corpus import cross_doc_span_dedup

    d = load_docs_spread(spark, sf_dir)
    return cross_doc_span_dedup(d, k=_X54_K)


# ---------------------------------------------------------------------------
# x55 — span-level eval decontamination
# (operators/corpus.scrub_benchmark_spans): x17 SCORES benchmark
# overlap; this one REMOVES it — every 4-token window of a corpus
# document whose text appears anywhere in the benchmark set
# (doc_id % 41 == 0, x17's convention) is excised, the GPT-3
# appendix-C n-gram scrub. Benchmark window set broadcast; corpus
# side never wide-shuffles on window text.
# ---------------------------------------------------------------------------

_X55_K = 4

_X55_ORACLE = f"""
WITH bench AS (
  SELECT string_split(lower(text), ' ') AS w FROM documents
  WHERE doc_id % 41 = 0
),
corpus AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE doc_id % 41 <> 0
),
bw AS (
  SELECT DISTINCT array_to_string(list_slice(w, pos, pos + {_X55_K} - 1), ' ') AS wt
  FROM (SELECT w,
               unnest(CASE WHEN len(w) >= {_X55_K}
                           THEN range(1, len(w) - {_X55_K} + 2)
                           ELSE CAST([] AS BIGINT[]) END) AS pos
        FROM bench)
),
wk AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(w, pos, pos + {_X55_K} - 1), ' ') AS wt
  FROM (SELECT doc_id, w,
               unnest(CASE WHEN len(w) >= {_X55_K}
                           THEN range(1, len(w) - {_X55_K} + 2)
                           ELSE CAST([] AS BIGINT[]) END) AS pos
        FROM corpus)
),
hits AS (SELECT wk.doc_id, wk.pos FROM wk JOIN bw USING (wt)),
cov AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM hits GROUP BY doc_id),
mask AS (
  SELECT t.doc_id, t.w,
         list_filter(range(1, len(t.w) + 1),
           p -> len(list_filter(coalesce(c.starts, CAST([] AS BIGINT[])),
                                s -> p >= s AND p < s + {_X55_K})) = 0) AS kept
  FROM corpus t LEFT JOIN cov c USING (doc_id))
SELECT doc_id,
       coalesce(array_to_string(list_transform(kept, p -> w[p]), ' '), '')
           AS clean_text,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       CAST(len(w) - len(kept) AS DOUBLE) / CAST(len(w) AS DOUBLE)
           AS removed_frac
FROM mask
"""


@register("x55_benchmark_span_scrub", oracle=_X55_ORACLE)
def x55_benchmark_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination: 4-token windows leaked
    from the benchmark set (doc_id % 41 == 0) are cut from every
    other document."""
    from docker_etl_spark.operators.corpus import scrub_benchmark_spans

    d = load_docs_spread(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 41 == 0)
    corpus = d.filter(F.col("doc_id") % 41 != 0)
    return scrub_benchmark_spans(corpus, bench, k=_X55_K)


# ---------------------------------------------------------------------------
# x56 — DSIR importance resampling (operators/corpus.dsir_select):
# pick the 200 source docs (doc_id % 31 != 0) whose hashed
# uni+bigram distribution is closest to the target set
# (doc_id % 31 == 0) by add-1-smoothed log-likelihood ratio. The
# per-bucket weight is the ONLY floating step (one ln per bucket,
# quantized round(1e6*ln) at the dim edge); per-doc accumulation is
# exact integer math, so the hash comparison is partition-order-free
# and the cross-engine risk is confined to a 1-ulp ln boundary
# straddle on fixed inputs — verified stable at all three SFs.
# ---------------------------------------------------------------------------

_X56_M = 2048
_X56_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
feat AS (
  SELECT doc_id % 31 = 0 AS is_tgt, doc_id,
         unnest(list_concat(w,
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS t
  FROM base
),
b AS (
  SELECT is_tgt, doc_id,
         list_sum(list_transform(range(1, 9),
           i -> CAST(strpos('0123456789abcdef',
                            substring(substring(md5(t), 1, 8), i, 1)) - 1
                     AS BIGINT)
                * CAST(16 ** (8 - i) AS BIGINT))) % {_X56_M} AS bkt
  FROM feat
),
tc AS (SELECT bkt, count(*) AS tc FROM b WHERE is_tgt GROUP BY bkt),
sc AS (SELECT bkt, count(*) AS sc FROM b WHERE NOT is_tgt GROUP BY bkt),
tot AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tc) AS T,
               (SELECT coalesce(sum(sc), 0) FROM sc) AS S),
wts AS (
  SELECT sc.bkt,
         CAST(round(ln(CAST((coalesce(tc.tc, 0) + 1) * (tot.S + {_X56_M})
                            AS DOUBLE)
                       / CAST((sc.sc + 1) * (tot.T + {_X56_M}) AS DOUBLE))
                    * 1000000) AS BIGINT) AS lw
  FROM sc LEFT JOIN tc USING (bkt), tot
),
scored AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(w.lw) AS BIGINT) AS score_sum
  FROM b JOIN wts w USING (bkt) WHERE NOT b.is_tgt GROUP BY b.doc_id
)
SELECT doc_id, n_feats, score_sum,
       CAST(row_number() OVER (ORDER BY score_sum DESC, doc_id)
            AS BIGINT) AS sel_rank
FROM scored ORDER BY score_sum DESC, doc_id LIMIT 200
"""


@register("x56_dsir_select", oracle=_X56_ORACLE)
def x56_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: top-200 source docs by hashed-n-gram
    importance weight toward the doc_id%31==0 target slice."""
    from docker_etl_spark.operators.corpus import dsir_select

    d = load_docs_spread(spark, sf_dir)
    return dsir_select(
        d.filter(F.col("doc_id") % 31 != 0),
        d.filter(F.col("doc_id") % 31 == 0),
        n_buckets=_X56_M,
    )


# ---------------------------------------------------------------------------
# x57 — hybrid retrieval with reciprocal-rank fusion
# (operators/similarity.reciprocal_rank_fusion): BM25 lexical arm
# (x25's rational-idf scorer, per-doc score folded in sorted term
# order so the double sum is partition-order-free) fused with an
# exact-int quantized cosine arm (x06's kernel, query = vec_id 0).
# Both arms are top-50 lists; RRF k=60; top-20 fused output. Each
# 1/(60+rank) quotient is one correctly-rounded IEEE op added
# left-to-right, so the fused score is bit-reproducible.
# ---------------------------------------------------------------------------

_X57_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('hash', 'join', 'window', 'vector')
    GROUP BY 1, 2, 3
),
df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id, tf.term,
           ((CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
            / (CAST(df.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.25)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.25 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE)
                     / (CAST(stats.sum_dl AS DOUBLE)
                        / CAST(stats.n_docs AS DOUBLE)))))) AS score
    FROM tf JOIN df USING (term) CROSS JOIN stats
),
lexs AS (
    SELECT doc_id,
           list_reduce(list(score ORDER BY term), (a, b) -> a + b)
               AS lex_score
    FROM ts GROUP BY doc_id
),
lex AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id)
                AS BIGINT) AS lex_rank
    FROM lexs ORDER BY lex_score DESC, doc_id LIMIT 50
),
e AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
n AS (
    SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e
),
q AS (SELECT * FROM n WHERE vec_id = 0 AND nrm > 0),
c AS (SELECT * FROM n WHERE nrm > 0),
cosv AS (
    SELECT c.vec_id AS doc_id,
           CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                                        i -> q.v[i] * c.v[i])) AS DOUBLE)
               / sqrt(CAST(q.nrm * c.nrm AS DOUBLE)) AS cosine
    FROM q JOIN c ON c.vec_id != q.vec_id
),
vec AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                AS BIGINT) AS vec_rank
    FROM cosv ORDER BY cosine DESC, doc_id LIMIT 50
),
f AS (
    SELECT doc_id, lex_rank, vec_rank,
           coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank),
                    CAST(0 AS DOUBLE))
           + coalesce(CAST(1 AS DOUBLE) / (60 + vec_rank),
                      CAST(0 AS DOUBLE)) AS rrf_score
    FROM lex FULL JOIN vec USING (doc_id)
)
SELECT doc_id, lex_rank, vec_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
            AS BIGINT) AS fused_rank
FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


@register("x57_hybrid_rrf", oracle=_X57_ORACLE)
def x57_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal rank:
    BM25 top-50 and exact-int cosine top-50 (query vec_id=0) -> RRF
    top-20."""
    from docker_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        reciprocal_rank_fusion,
    )
    from docker_etl_spark.operators.text_analysis import bm25_term_scores

    d = load_docs_spread(spark, sf_dir)
    bm = bm25_term_scores(
        d, _X25_TERMS, text_col="text", id_col="doc_id", k1=1.25, b=0.75
    )
    lex_score = (
        bm.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "score"))).alias(
                "__ts"
            )
        )
        .select(
            "doc_id",
            F.aggregate(
                "__ts", F.lit(0.0), lambda a, s: a + s["score"]
            ).alias("lex_score"),
        )
    )
    lex_w = Window.orderBy(F.desc("lex_score"), F.col("doc_id"))
    lex = (
        lex_score.orderBy(F.desc("lex_score"), F.col("doc_id"))
        .limit(50)
        .select(
            "doc_id", F.row_number().over(lex_w).cast("long").alias("rank")
        )
    )
    em = load_table(spark, sf_dir, "embeddings")
    ivec = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    q = em.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), ivec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), ivec.alias("vec"))
    cos = cosine_topk_bruteforce(
        q, c, k=50, exact_int=True, max_queries=None
    )
    vec_w = Window.orderBy(F.desc("cosine"), F.col("corpus_id"))
    vec = cos.select(
        F.col("corpus_id").alias("doc_id"),
        F.row_number().over(vec_w).cast("long").alias("rank"),
    )
    return reciprocal_rank_fusion(
        [("lex", lex), ("vec", vec)], id_col="doc_id", rrf_k=60, top_k=20
    )


# ---------------------------------------------------------------------------
# x58 — BPE merge-rule training
# (operators/text_analysis.bpe_train_merges): the first 4 BPE merges
# learned from the documents word-frequency dictionary (Sennrich et
# al. 2016). Engine and oracle share the mark-wrapped-symbol string
# encoding, so a merge is a plain left-to-right non-overlapping
# replace() in both — greedy BPE order by construction. The oracle
# unrolls the 4 rounds as chained CTEs; ties in pair counts break on
# the pair string, making training fully deterministic.
# ---------------------------------------------------------------------------


def _x58_cte_chain(n_merges: int) -> str:
    """Shared WITH-chain for x58/x59: vocab, wrapped encoding, and
    the unrolled per-round pair-count/argmax/merge CTEs b1..bN."""
    parts = [
        """
WITH v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> '' AND strpos(w, chr(1)) = 0
  GROUP BY w
),
e0 AS (
  SELECT cnt,
         list_aggregate(list_transform(range(1, length(w) + 1),
            i -> chr(1) || substring(w, i, 1) || chr(1)), 'string_agg', '')
         || chr(1) || '</w>' || chr(1) AS enc
  FROM v0
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
s{r} AS (
  SELECT cnt,
         string_split(substring(enc, 2, length(enc) - 2),
                      chr(1) || chr(1)) AS s
  FROM e{r - 1}
),
p{r} AS (
  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(s)),
                                 i -> s[i] || ' ' || s[i + 1])) AS pair
    FROM s{r}
  ) GROUP BY pair
),
b{r} AS (SELECT pair, pair_count FROM p{r}
         ORDER BY pair_count DESC, pair LIMIT 1)"""
        )
        if r < n_merges:
            parts.append(
                f""",
e{r} AS (
  SELECT e{r - 1}.cnt,
         replace(e{r - 1}.enc,
                 chr(1) || string_split(b{r}.pair, ' ')[1] || chr(1)
                        || chr(1) || string_split(b{r}.pair, ' ')[2] || chr(1),
                 chr(1) || replace(b{r}.pair, ' ', '') || chr(1)) AS enc
  FROM e{r - 1}, b{r}
)"""
            )
    return "".join(parts)


def _x58_oracle(n_merges: int) -> str:
    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS merge_round,
       string_split(pair, ' ')[1] AS left_sym,
       string_split(pair, ' ')[2] AS right_sym,
       replace(pair, ' ', '') AS merged, pair_count
FROM b{r}"""
        for r in range(1, n_merges + 1)
    ]
    return _x58_cte_chain(n_merges) + "\n" + "\nUNION ALL\n".join(selects)


_X58_ORACLE = _x58_oracle(4)


@register("x58_bpe_merges", oracle=_X58_ORACLE)
def x58_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merge rules learned from the documents
    word-frequency dictionary (deterministic pair-string
    tie-breaks)."""
    from docker_etl_spark.operators.text_analysis import bpe_train_merges

    d = load_docs_spread(spark, sf_dir)
    return bpe_train_merges(d, n_merges=4)


# ---------------------------------------------------------------------------
# x59 — BPE tokenization with the learned merges
# (operators/text_analysis.bpe_apply_merges): the train→apply loop —
# x58's 4 learned rules broadcast into a map-side replace chain over
# every document, counting the resulting subword tokens (the numbers
# context-window packing actually needs). The oracle re-derives the
# merges via the shared x58 CTE chain and applies them as the same
# nested replaces.
# ---------------------------------------------------------------------------


def _x59_oracle(n_merges: int) -> str:
    enc2 = "enc"
    for r in range(1, n_merges + 1):
        pat = (
            f"chr(1) || string_split(b{r}.pair, ' ')[1] || chr(1) || "
            f"chr(1) || string_split(b{r}.pair, ' ')[2] || chr(1)"
        )
        rep = f"chr(1) || replace(b{r}.pair, ' ', '') || chr(1)"
        enc2 = f"replace({enc2}, {pat}, {rep})"
    dims = ", ".join(f"b{r}" for r in range(1, n_merges + 1))
    return (
        _x58_cte_chain(n_merges)
        + f""",
docw AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '),
                     x -> x <> '' AND strpos(x, chr(1)) = 0) AS w
  FROM documents
),
encw AS (
  SELECT doc_id, len(w) AS words,
         coalesce(list_aggregate(list_transform(w, x ->
             list_aggregate(list_transform(range(1, length(x) + 1),
                 i -> chr(1) || substring(x, i, 1) || chr(1)),
                 'string_agg', '')
             || chr(1) || '</w>' || chr(1)),
             'string_agg', ''), '') AS enc
  FROM docw
),
rep AS (
  SELECT doc_id, words, {enc2} AS enc2
  FROM encw, {dims}
)
SELECT doc_id, CAST(words AS BIGINT) AS n_words,
       CAST((length(enc2) - length(replace(enc2, chr(1), ''))) / 2
            AS BIGINT) AS n_bpe_tokens,
       CASE WHEN words > 0
            THEN CAST((length(enc2) - length(replace(enc2, chr(1), ''))) / 2
                      AS DOUBLE) / CAST(words AS DOUBLE)
       END AS tokens_per_word
FROM rep
"""
    )


_X59_ORACLE = _x59_oracle(4)


@register("x59_bpe_tokenize", oracle=_X59_ORACLE)
def x59_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token counts under the 4 BPE merges
    learned by x58 — broadcast rules, map-side replace chain."""
    from docker_etl_spark.operators.text_analysis import (
        bpe_apply_merges,
        bpe_train_merges,
    )

    d = load_docs_spread(spark, sf_dir)
    return bpe_apply_merges(d, bpe_train_merges(d, n_merges=4))


# ---------------------------------------------------------------------------
# x60 — Matryoshka truncation retrieval audit
# (operators/similarity.truncated_dim_recall): recall@10 of a
# 16-of-64-dim prefix-truncated cosine retriever against the
# full-dimension ranking, per query — the measurement that decides
# whether a cheap low-dim prefilter can front the full ranker.
# Both arms use the engine-wide exact-int quantization (floor
# x*1000) so the only doubles are one correctly-rounded quotient
# per pair; recall is a small-int ratio.
# ---------------------------------------------------------------------------

_X60_ORACLE = """
WITH e AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
fn AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e),
fq AS (SELECT * FROM fn WHERE vec_id < 8 AND nrm > 0),
fc AS (SELECT * FROM fn WHERE nrm > 0),
fp AS (
    SELECT fq.vec_id AS query_id, fc.vec_id AS corpus_id,
           CAST(list_sum(list_transform(range(1, len(fq.v) + 1),
                                        i -> fq.v[i] * fc.v[i])) AS DOUBLE)
               / sqrt(CAST(fq.nrm * fc.nrm AS DOUBLE)) AS cosine
    FROM fq JOIN fc ON fc.vec_id != fq.vec_id
),
ftop AS (
    SELECT query_id, corpus_id FROM fp
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) <= 10
),
t AS (SELECT vec_id, v[1:16] AS v FROM e),
tn AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM t),
tq AS (SELECT * FROM tn WHERE vec_id < 8 AND nrm > 0),
tc AS (SELECT * FROM tn WHERE nrm > 0),
tp AS (
    SELECT tq.vec_id AS query_id, tc.vec_id AS corpus_id,
           CAST(list_sum(list_transform(range(1, len(tq.v) + 1),
                                        i -> tq.v[i] * tc.v[i])) AS DOUBLE)
               / sqrt(CAST(tq.nrm * tc.nrm AS DOUBLE)) AS cosine
    FROM tq JOIN tc ON tc.vec_id != tq.vec_id
),
ttop AS (
    SELECT query_id, corpus_id FROM tp
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id) <= 10
)
SELECT f.query_id,
       CAST(count(t.corpus_id) AS BIGINT) AS n_overlap,
       CAST(count(t.corpus_id) AS DOUBLE) / 10 AS recall_at_k
FROM ftop f
LEFT JOIN ttop t ON t.query_id = f.query_id AND t.corpus_id = f.corpus_id
GROUP BY f.query_id
"""


@register("x60_matryoshka_recall", oracle=_X60_ORACLE)
def x60_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 16-dim-prefix cosine retrieval vs the full
    64-dim ranking for query vectors vec_id < 8."""
    from docker_etl_spark.operators.similarity import truncated_dim_recall

    em = load_table(spark, sf_dir, "embeddings")
    ivec = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    q = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), ivec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), ivec.alias("vec"))
    return truncated_dim_recall(q, c, trunc_dim=16, k=10, exact_int=True)


# ---------------------------------------------------------------------------
# x61 — MMR diversified re-ranking (operators/similarity.mmr_rerank):
# greedy maximal-marginal-relevance selection of 8 from the top-20
# cosine pool for query vec_id 0 (lambda 0.5). select_k is a fixed
# param, so the greedy loop UNROLLS into the plan (one-row candidate
# array + k argmax folds — zero driver loops, zero Python stages);
# the oracle unrolls the same k steps as chained CTEs with
# (score DESC, id) LIMIT 1 argmax per step.
# ---------------------------------------------------------------------------


def _x61_oracle(k: int) -> str:
    parts = ["""
WITH e AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e),
q AS (SELECT * FROM n WHERE vec_id = 0 AND nrm > 0),
c AS (SELECT * FROM n WHERE nrm > 0 AND vec_id != 0),
relp AS (
    SELECT c.vec_id AS id,
           CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                                        i -> q.v[i] * c.v[i])) AS DOUBLE)
               / sqrt(CAST(q.nrm * c.nrm AS DOUBLE)) AS rel
    FROM q, c
),
pool AS (SELECT id, rel FROM relp ORDER BY rel DESC, id LIMIT 20),
pv AS MATERIALIZED (SELECT p.id, p.rel, n.v, n.nrm FROM pool p JOIN n ON n.vec_id = p.id),
ps AS MATERIALIZED (
    SELECT a.id AS a, b.id AS b,
           CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                                        i -> a.v[i] * b.v[i])) AS DOUBLE)
               / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) AS sim
    FROM pv a JOIN pv b ON a.id != b.id
),
sel0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE 1 = 0)"""]
    for r in range(1, k + 1):
        parts.append(
            f""",
scr{r} AS MATERIALIZED (
  SELECT p.id, p.rel,
         0.5 * p.rel - 0.5 * coalesce(
             (SELECT max(ps.sim) FROM ps
              WHERE ps.a = p.id AND ps.b IN (SELECT id FROM sel{r - 1})),
             0.0) AS score
  FROM pv p WHERE p.id NOT IN (SELECT id FROM sel{r - 1})
),
pick{r} AS (
  SELECT CAST({r} AS BIGINT) AS mmr_rank, id, rel, score
  FROM scr{r} ORDER BY score DESC, id LIMIT 1
),
sel{r} AS MATERIALIZED (SELECT id FROM sel{r - 1} UNION ALL SELECT id FROM pick{r})"""
        )
    selects = [
        f"SELECT mmr_rank, id AS cand_id, rel, score AS mmr_score FROM pick{r}"
        for r in range(1, k + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


_X61_ORACLE = _x61_oracle(8)


@register("x61_mmr_rerank", oracle=_X61_ORACLE)
def x61_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-8 from the cosine top-20 pool of query
    vec_id 0 — unrolled in-plan greedy selection."""
    from docker_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_rerank,
    )

    em = load_table(spark, sf_dir, "embeddings")
    ivec = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    q = em.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), ivec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), ivec.alias("vec"))
    top = cosine_topk_bruteforce(q, c, k=20, exact_int=True, max_queries=None)
    pool = top.select(
        F.col("corpus_id").alias("cand_id"), F.col("cosine").alias("rel")
    ).join(c.select(F.col("corpus_id").alias("cand_id"), "vec"), "cand_id")
    return mmr_rerank(
        pool, select_k=8, lambda_=0.5, exact_int=True, max_pool=64
    )


# ---------------------------------------------------------------------------
# x62 — per-source PSI drift gate (operators/profiling.psi_drift):
# Population Stability Index of the n_chars distribution between the
# even-doc_id (baseline) and odd-doc_id (current) snapshot halves,
# per source — the admission gate a continuous ingest runs before
# accepting a new crawl batch. Add-1 smoothing over a fixed 10-bucket
# spine; the one floating step is a quantized round(1e6*ln) per
# (source, bucket) dim row (x56 discipline); accumulation is exact
# integer math and the published PSI is two identical double
# divisions in both engines.
# ---------------------------------------------------------------------------

_X62_ORACLE = """
WITH d AS (
    SELECT source,
           CAST(greatest(least(floor(n_chars / 40), 9), 0) AS BIGINT) AS bkt,
           doc_id % 2 AS snap
    FROM documents
),
g AS (
    SELECT source, bkt,
           CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
    FROM d GROUP BY source, bkt
),
spine AS (
    SELECT s.source, CAST(r.range AS BIGINT) AS bkt
    FROM (SELECT DISTINCT source FROM documents) s, range(0, 10) r
),
f AS (
    SELECT sp.source, sp.bkt,
           coalesce(g.a, 0) AS a, coalesce(g.b, 0) AS b
    FROM spine sp LEFT JOIN g ON g.source = sp.source AND g.bkt = sp.bkt
),
t AS (
    SELECT source, CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
    FROM f GROUP BY source
),
comp AS (
    SELECT f.source, t.ta, t.tb,
           CAST((f.a + 1) * (t.tb + 10) - (f.b + 1) * (t.ta + 10) AS BIGINT) AS num,
           CAST(round(ln(CAST((f.a + 1) * (t.tb + 10) AS DOUBLE)
                         / CAST((f.b + 1) * (t.ta + 10) AS DOUBLE))
                      * 1000000) AS BIGINT) AS lw
    FROM f JOIN t USING (source)
),
s AS (
    SELECT source, min(ta) AS ta, min(tb) AS tb,
           CAST(sum(num * lw) AS BIGINT) AS pn
    FROM comp GROUP BY source
)
SELECT source, ta AS n_base, tb AS n_current,
       CAST(pn AS DOUBLE) / CAST((ta + 10) * (tb + 10) AS DOUBLE) / 1000000.0 AS psi,
       (CAST(pn AS DOUBLE) / CAST((ta + 10) * (tb + 10) AS DOUBLE) / 1000000.0)
           > 0.2 AS drifted
FROM s
"""


@register("x62_psi_drift", oracle=_X62_ORACLE)
def x62_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI of the n_chars distribution, even-vs-odd
    doc_id snapshot halves, 10 fixed-width buckets."""
    from docker_etl_spark.operators.profiling import psi_drift

    d = load_table(spark, sf_dir, "documents")
    return psi_drift(
        d.withColumn("__snap", (F.col("doc_id") % 2).cast("int")),
        group_col="source",
        value_col="n_chars",
        snapshot_col="__snap",
        bucket_width=40,
        n_buckets=10,
    )


# ---------------------------------------------------------------------------
# x63 — leakage-safe split repair (operators/corpus.leakage_safe_split):
# x39 DETECTS cross-split near-dup leakage; this op makes it
# impossible by construction — every doc draws its train/val/test
# split from the md5 of its near-dup CLUSTER REPRESENTATIVE (min-id
# member of its connected component over the x20 production pair
# config; singletons represent themselves), so near-dups co-travel.
# Oracle: x09's hash-independent exact-Jaccard pair set -> recursive
# transitive closure (the x20 recipe) -> the x26 split CASE drawn on
# rep_id and doc_id.
# ---------------------------------------------------------------------------

_X63_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _X09_ORACLE
    + f"""
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT e.u AS node, r.r FROM edges e JOIN reach r ON r.node = e.v
),
comp AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
),
rep AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
drawn AS (
  SELECT doc_id, rep_id,
         substr(md5(CAST(rep_id AS VARCHAR) || chr(31) || 'split'), 1, 8) AS us,
         substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'split'), 1, 8) AS un
  FROM rep
),
lab AS (
  SELECT doc_id, rep_id,
         CASE WHEN us < '{_SPLIT_HEX_TRAIN}' THEN 'train'
              WHEN us < '{_SPLIT_HEX_VAL}' THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN un < '{_SPLIT_HEX_TRAIN}' THEN 'train'
              WHEN un < '{_SPLIT_HEX_VAL}' THEN 'val'
              ELSE 'test' END AS naive_split
  FROM drawn
)
SELECT doc_id, rep_id, split, naive_split, (split != naive_split) AS moved
FROM lab
"""
)

@register("x63_leakage_safe_split", oracle=_X63_ORACLE)
def x63_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative 90/5/5 split: near-dup components
    (x20 production pair config) co-travel; moved flags the docs the
    naive own-id draw would have placed elsewhere."""
    from docker_etl_spark.operators.corpus import leakage_safe_split
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        d, num_perm=64, bands=8, threshold=0.5, hash_fn="xxhash64"
    ).select("id_a", "id_b")
    return leakage_safe_split(d, pairs)


# ---------------------------------------------------------------------------
# x64 — fuzzy decontamination against the benchmark slice
# (operators/text_dedup.incremental_minhash_dedup with
# include_batch_pairs=False): x17 catches EXACT n-gram overlap with
# the eval set and x55 scrubs exact spans; this is the
# MinHash-estimator form (the Llama-recipe "near-duplicate of an
# eval document" scrub) — every corpus doc (doc_id % 31 != 0) probes
# the BENCHMARK slice's (doc_id % 31 == 0) signature store through
# LSH banding; the in-batch arm is OFF because corpus-vs-corpus
# near-dups are dedup's business, not contamination. Oracle replays
# the md5 signatures, band buckets, and position-match estimator —
# minus x45's in-batch arm.
# ---------------------------------------------------------------------------

_X64_ORACLE = f"""
WITH newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 31 != 0
),
storedocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0),
shn AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM newdocs)
  WHERE len(w) >= 3
),
shs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM storedocs)
  WHERE len(w) >= 3
),
sgn AS (SELECT doc_id, {_X45_SIG_SQL} AS g FROM shn),
sgs AS (SELECT doc_id, {_X45_SIG_SQL} AS g FROM shs),
bn AS (
  SELECT doc_id, g, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sgn, unnest([0, 1, 2]) AS u(b)
),
bs AS (
  SELECT doc_id, g, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sgs, unnest([0, 1, 2]) AS u(b)
),
cand AS (
  SELECT new_id, est FROM (
    SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id,
           CAST(len(list_filter(range(1, 13), i -> n.g[i] = s.g[i])) AS DOUBLE)
           / 12.0 AS est
    FROM bn n JOIN bs s ON n.b = s.b AND n.bkey = s.bkey
  )
),
agg AS (
  SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         MAX(est) AS max_est
  FROM cand GROUP BY new_id
)
SELECT d.doc_id,
       COALESCE(a.n_candidates, 0) AS n_candidates,
       COALESCE(a.max_est, 0.0) AS max_est,
       COALESCE(a.max_est, 0.0) >= 0.5 AS is_dup
FROM newdocs d LEFT JOIN agg a ON a.new_id = d.doc_id
"""


@register("x64_fuzzy_decontamination", oracle=_X64_ORACLE)
def x64_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs probed against the benchmark slice's signature
    store (md5, 12 perms, 3 bands, est >= 0.5); in-batch arm off."""
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        minhash_signature,
        word_shingles,
    )

    d = load_docs_spread(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 31 != 0)
    bench = d.filter(F.col("doc_id") % 31 == 0)
    has = F.size(F.split(F.col("text"), " ")) >= 3
    bench_sigs = bench.filter(has).select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    )
    return incremental_minhash_dedup(
        corpus,
        bench_sigs,
        num_perm=12,
        bands=3,
        est_threshold=0.5,
        hash_fn="md5",
        include_batch_pairs=False,
    )


# ---------------------------------------------------------------------------
# x65 — corpus diversity census
# (operators/text_analysis.corpus_diversity): per-source type-token
# ratio and distinct-trigram ratio — the redundancy fingerprint read
# before weighting a source in the training mixture (high volume +
# low diversity = templated corpus; dedup fixes documents, this
# flags the source). Exact integer counts; each ratio is one double
# division.
# ---------------------------------------------------------------------------

_X65_ORACLE = """
WITH d AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
ds AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(w)) AS BIGINT) AS total_words
  FROM d GROUP BY source
),
dw AS (
  SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS distinct_words
  FROM (SELECT source, unnest(w) AS t FROM d) GROUP BY source
),
g0 AS (
  SELECT source,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM d WHERE len(w) >= 3
),
gr AS (
  SELECT source, CAST(count(*) AS BIGINT) AS distinct_ngrams,
         CAST(sum(c) AS BIGINT) AS total_ngrams
  FROM (SELECT source, g, count(*) AS c FROM g0 GROUP BY source, g)
  GROUP BY source
)
SELECT ds.source, ds.n_docs, ds.total_words,
       coalesce(dw.distinct_words, 0) AS distinct_words,
       CASE WHEN ds.total_words > 0
            THEN CAST(coalesce(dw.distinct_words, 0) AS DOUBLE)
                 / CAST(ds.total_words AS DOUBLE) END AS type_token_ratio,
       coalesce(gr.total_ngrams, 0) AS total_ngrams,
       coalesce(gr.distinct_ngrams, 0) AS distinct_ngrams,
       CASE WHEN coalesce(gr.total_ngrams, 0) > 0
            THEN CAST(gr.distinct_ngrams AS DOUBLE)
                 / CAST(gr.total_ngrams AS DOUBLE) END AS ngram_diversity
FROM ds LEFT JOIN dw ON dw.source = ds.source
LEFT JOIN gr ON gr.source = ds.source
"""


@register("x65_corpus_diversity", oracle=_X65_ORACLE)
def x65_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token + distinct-trigram diversity census."""
    from docker_etl_spark.operators.text_analysis import corpus_diversity

    d = load_docs_spread(spark, sf_dir)
    return corpus_diversity(d)


# ---------------------------------------------------------------------------
# x66 — content-defined chunk census (operators/corpus.cdc_chunks /
# cdc_chunk_census): chunk breaks fall AFTER words whose md5 bucket
# is 0 mod 8 (the rsync/LBFS recipe applied to text at word
# granularity), so boundaries are a function of CONTENT — an edit
# re-chunks only its own neighborhood, which is what makes
# chunk-level dedup stable where x30's fixed windows all shift. The
# census reports, per source, how much volume is REPEATED chunks
# (boilerplate document-level dedup can't see). Engine: one linear
# fold per doc; oracle: window prefix-sum over unnested words.
# ---------------------------------------------------------------------------

_X66_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> t <> '') AS w0
  FROM documents
),
words AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w0) + 1),
                               i -> {'w': w0[i], 'i': i})) AS x
  FROM d
),
f AS (
  SELECT doc_id, source, x.w AS w, x.i AS i,
         CASE WHEN list_sum(list_transform(range(1, 9),
              j -> CAST(strpos('0123456789abcdef',
                               substring(substring(md5(x.w), 1, 8), j, 1)) - 1
                        AS BIGINT) * CAST(16 ** (8 - j) AS BIGINT))) % 8 = 0
              THEN 1 ELSE 0 END AS a
  FROM words
),
c AS (
  SELECT doc_id, source, w, i,
         coalesce(sum(a) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cid
  FROM f
),
ch AS (
  SELECT doc_id, source, cid,
         string_agg(w, ' ' ORDER BY i) AS chunk,
         CAST(count(*) AS BIGINT) AS nw
  FROM c GROUP BY doc_id, source, cid
)
SELECT source,
       CAST(count(*) AS BIGINT) AS total_chunks,
       CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks,
       CAST(sum(nw) AS BIGINT) AS total_words,
       CAST(count(*) - count(DISTINCT md5(chunk)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_chunk_ratio,
       CAST(sum(nw) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chunk_words
FROM ch GROUP BY source
"""


@register("x66_cdc_chunk_census", oracle=_X66_ORACLE)
def x66_cdc_chunk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content-defined-chunk dedup census (word anchors,
    md5 bucket 0 mod 8)."""
    from docker_etl_spark.operators.corpus import cdc_chunk_census

    d = load_docs_spread(spark, sf_dir)
    return cdc_chunk_census(d)


# ---------------------------------------------------------------------------
# x67 — deterministic training order (operators/corpus.training_order):
# the last corpus-assembly step — every doc appears once per epoch,
# shuffled by an md5 draw over (id, epoch, seed); each example gets
# its global position and batch id. The engine computes the global
# index WITHOUT a single-partition window: range partition on the
# draw key, local ranks, bounded per-partition counts as broadcast
# prefix offsets — identical to the naive global window because the
# draw key is a total order. Oracle IS the naive global window.
# ---------------------------------------------------------------------------

_X67_ORACLE = """
WITH k AS (
  SELECT doc_id, CAST(e.range AS BIGINT) AS epoch,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(e.range AS VARCHAR)
             || ':order') AS ord_key
  FROM documents, range(0, 2) e
),
p AS (
  SELECT doc_id, epoch, ord_key,
         CAST(row_number() OVER (ORDER BY ord_key) AS BIGINT) AS position
  FROM k
)
SELECT doc_id, epoch, ord_key, position,
       CAST((position - 1) // 32 AS BIGINT) AS batch_id
FROM p
"""


@register("x67_training_order", oracle=_X67_ORACLE)
def x67_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-epoch deterministic shuffle order + batch ids (batch 32),
    global index via range partitions + broadcast prefix offsets."""
    from docker_etl_spark.operators.corpus import training_order

    d = load_table(spark, sf_dir, "documents")
    return training_order(d, n_epochs=2, batch_size=32)


# ---------------------------------------------------------------------------
# x68 — equi-depth PSI drift gate
# (operators/profiling.psi_drift_equidepth): x62's PSI with bucket
# edges taken from the BASELINE snapshot's own per-source deciles
# (percentile_disc — exact integers), broadcast as an edge dim (the
# x43 adaptive-floor pattern) so every bucket holds ~equal baseline
# mass and the statistic is sensitive wherever the data actually
# lives. Bucket assignment is an integer comparison fold; the PSI
# accumulation is the shared exact-int/quantized-ln kernel.
# ---------------------------------------------------------------------------

_X68_EDGES = ", ".join(f"quantile_disc(n_chars, {i / 10})" for i in range(1, 10))

_X68_ORACLE = f"""
WITH ed AS (
  SELECT source, [{_X68_EDGES}] AS edges
  FROM documents WHERE doc_id % 2 = 0 GROUP BY source
),
d AS (
  SELECT d0.source,
         CAST(len(list_filter(ed.edges, e -> d0.n_chars > e)) AS BIGINT) AS bkt,
         d0.doc_id % 2 AS snap
  FROM documents d0 JOIN ed ON ed.source = d0.source
),
g AS (
  SELECT source, bkt,
         CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM d GROUP BY source, bkt
),
spine AS (
  SELECT ed.source, CAST(r.range AS BIGINT) AS bkt
  FROM ed, range(0, 10) r
),
f AS (
  SELECT sp.source, sp.bkt,
         coalesce(g.a, 0) AS a, coalesce(g.b, 0) AS b
  FROM spine sp LEFT JOIN g ON g.source = sp.source AND g.bkt = sp.bkt
),
t AS (
  SELECT source, CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
  FROM f GROUP BY source
),
comp AS (
  SELECT f.source, t.ta, t.tb,
         CAST((f.a + 1) * (t.tb + 10) - (f.b + 1) * (t.ta + 10) AS BIGINT) AS num,
         CAST(round(ln(CAST((f.a + 1) * (t.tb + 10) AS DOUBLE)
                       / CAST((f.b + 1) * (t.ta + 10) AS DOUBLE))
                    * 1000000) AS BIGINT) AS lw
  FROM f JOIN t USING (source)
),
s AS (
  SELECT source, min(ta) AS ta, min(tb) AS tb,
         CAST(sum(num * lw) AS BIGINT) AS pn
  FROM comp GROUP BY source
)
SELECT source, ta AS n_base, tb AS n_current,
       CAST(pn AS DOUBLE) / CAST((ta + 10) * (tb + 10) AS DOUBLE) / 1000000.0 AS psi,
       (CAST(pn AS DOUBLE) / CAST((ta + 10) * (tb + 10) AS DOUBLE) / 1000000.0)
           > 0.2 AS drifted
FROM s
"""


@register("x68_psi_equidepth", oracle=_X68_ORACLE)
def x68_psi_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source equi-depth PSI (baseline-decile edges), even-vs-odd
    doc_id snapshot halves."""
    from docker_etl_spark.operators.profiling import psi_drift_equidepth

    d = load_table(spark, sf_dir, "documents")
    return psi_drift_equidepth(
        d.withColumn("__snap", (F.col("doc_id") % 2).cast("int")),
        group_col="source",
        value_col="n_chars",
        snapshot_col="__snap",
        n_buckets=10,
    )


# ---------------------------------------------------------------------------
# x69 — cross-source shingle containment matrix
# (operators/text_analysis.source_containment_matrix): for every
# source pair, common distinct trigrams + directional containment +
# Jaccard — "how much of corpus A is already inside corpus B", the
# acquisition-decision matrix. x36 answers this only for verbatim
# whole-document copies (digests); shingle containment sees partial
# and remixed reuse. One distinct over (source, shingle), then a
# self equi-join ON THE SHINGLE — never a cross join.
# ---------------------------------------------------------------------------

_X69_ORACLE = """
WITH sh AS (
  SELECT DISTINCT source AS src,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 3
),
sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY src),
common AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT c.source_a, c.source_b, sa.n AS n_a, sb.n AS n_b, c.n_common,
       CAST(c.n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
       CAST(c.n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b,
       CAST(c.n_common AS DOUBLE)
           / CAST(sa.n + sb.n - c.n_common AS DOUBLE) AS jaccard
FROM common c
JOIN sizes sa ON sa.src = c.source_a
JOIN sizes sb ON sb.src = c.source_b
"""


@register("x69_source_containment", oracle=_X69_ORACLE)
def x69_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source shingle-containment/Jaccard matrix."""
    from docker_etl_spark.operators.text_analysis import (
        source_containment_matrix,
    )

    d = load_docs_spread(spark, sf_dir)
    return source_containment_matrix(d)


# ---------------------------------------------------------------------------
# x70 — lossless containment join (operators/text_dedup.
# containment_join): all directed pairs with |A∩B|/|A| >= 0.8 — the
# asymmetric near-dup case Jaccard misses (short doc embedded in a
# long one). The engine prunes with the PPJoin prefix filter (a doc
# must share one of its floor(|A|*0.2)+1 globally-rarest shingles
# with any qualifying superset — EXACT, not approximate), so the
# oracle is brute-force all-pairs containment and hash-independent.
# ---------------------------------------------------------------------------

_X70_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(a.s) AS BIGINT) AS n_a,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / CAST(len(a.s) AS DOUBLE) AS containment
FROM sh a JOIN sh b ON a.doc_id != b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / CAST(len(a.s) AS DOUBLE) >= 0.8
"""


@register("x70_containment_join", oracle=_X70_ORACLE)
def x70_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment >= 0.8 pairs via the exact prefix filter
    (brute-force all-pairs oracle)."""
    from docker_etl_spark.operators.text_dedup import containment_join

    d = load_table(spark, sf_dir, "documents")
    return containment_join(d, threshold=0.8)


# ---------------------------------------------------------------------------
# x71 — estimator precision eval (operators/text_dedup.
# estimator_precision_eval): the counterpart of x52's planted-twin
# RECALL — of the LSH candidate pairs the 12-perm position-match
# estimator admits at 0.5 (the store-probe decision rule), how many
# are true near-dups by exact Jaccard? The oracle replays md5
# signatures, band buckets, the estimator, and the exact verify.
# ---------------------------------------------------------------------------

_X71_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM tok WHERE len(w) >= 3
),
sig AS (SELECT doc_id, s, {_X45_SIG_SQL} AS g FROM sh),
bands AS (
  SELECT doc_id, g, s, b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sig, unnest([0, 1, 2]) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
scored AS (
  SELECT
    CAST(len(list_filter(range(1, 13), i -> sa.g[i] = sb.g[i])) AS DOUBLE)
        / 12.0 >= 0.5 AS flag,
    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        >= 0.5 AS tru
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_est_flagged,
       CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS BIGINT) AS n_true_candidates,
       CAST(sum(CASE WHEN flag AND tru THEN 1 ELSE 0 END) AS BIGINT) AS n_true_flagged,
       CASE WHEN sum(CASE WHEN flag THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN flag AND tru THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS DOUBLE)
       END AS precision,
       CASE WHEN sum(CASE WHEN tru THEN 1 ELSE 0 END) > 0
            THEN CAST(sum(CASE WHEN flag AND tru THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS DOUBLE)
       END AS candidate_recall
FROM scored
"""


@register("x71_estimator_precision", oracle=_X71_ORACLE)
def x71_estimator_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/candidate-recall of the 12-perm MinHash estimator
    at threshold 0.5 over the LSH candidate set."""
    from docker_etl_spark.operators.text_dedup import estimator_precision_eval

    d = load_table(spark, sf_dir, "documents")
    return estimator_precision_eval(d)


# ---------------------------------------------------------------------------
# x72 — winnowing match pairs (operators/text_dedup.
# winnow_fingerprints / winnow_match_pairs): the MOSS algorithm
# (Schleimer 2003) — per-window minimum hash selection guarantees
# any shared run of window+n-1 words surfaces a shared fingerprint,
# finding LOCALIZED reuse whole-document similarity dilutes away.
# Registry config: word 3-grams, window 4, pairs sharing >= 2
# fingerprints; the hot-posting guard (1000) cannot engage below
# 1000 documents, so the oracle replays without it.
# ---------------------------------------------------------------------------

_X72_H15 = (
    "list_sum(list_transform(range(1, 16), "
    "j -> CAST(strpos('0123456789abcdef', substring(substring(md5({g}), 1, 15), j, 1)) - 1 AS BIGINT) "
    "* CAST(16 ** (15 - j) AS BIGINT)))"
)

_X72_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ok AS (SELECT * FROM tok WHERE len(w) >= 6),
h AS (
  SELECT doc_id,
         list_transform(range(1, len(w) - 1),
             i -> {_X72_H15.format(g="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}) AS hs
  FROM ok
),
fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(hs) - 2),
                                             i -> list_min(hs[i:i+3])))) AS fingerprint
  FROM h
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


@register("x72_winnow_pairs", oracle=_X72_ORACLE)
def x72_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing match pairs (3-gram hashes, window 4, >= 2
    shared fingerprints)."""
    from docker_etl_spark.operators.text_dedup import winnow_match_pairs

    d = load_table(spark, sf_dir, "documents")
    return winnow_match_pairs(d, shingle_n=3, window=4, min_shared=2)


# ---------------------------------------------------------------------------
# x73 — weighted sampling without replacement (operators/corpus.
# weighted_sample_topk): Efraimidis-Spirakis exponential keys — a
# fixed-size draw where each document's inclusion odds scale with
# its own quality weight, the data-selection primitive Bernoulli
# mixture_sample (per-domain rate) cannot express. The key
# -ln(u)/w is quantized to round(1e6*key) BIGINT with id tie-break
# so both engines select the identical 500 rows.
# ---------------------------------------------------------------------------

_X73_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST((n_chars % 97) + 1 AS BIGINT) AS wgt,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'wrs'), 1, 8)) AS BIGINT) AS u32
  FROM documents
)
SELECT doc_id, wgt,
       CAST(round(-ln((u32 + 1) / 4294967296.0) / CAST(wgt AS DOUBLE) * 1000000.0) AS BIGINT) AS sample_key
FROM d
WHERE wgt > 0
ORDER BY sample_key, doc_id
LIMIT 500
"""


@register("x73_weighted_sample", oracle=_X73_ORACLE)
def x73_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted fixed-size corpus draw (k=500, weight =
    (n_chars % 97) + 1 as a deterministic quality proxy)."""
    from docker_etl_spark.operators.corpus import weighted_sample_topk

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ((F.col("n_chars") % 97) + 1).cast("bigint").alias("wgt")
    )
    return weighted_sample_topk(d, "wgt", 500)


# ---------------------------------------------------------------------------
# x74 — stratified weighted sampling (operators/corpus.
# weighted_sample_per_group): the fixed-count-per-stratum complement
# of x73 — "k examples per domain, inclusion odds proportional to
# quality weight" — one shuffle on the domain key, per-group rank
# window, same quantized exponential key so both engines select the
# identical rows.
# ---------------------------------------------------------------------------

_X74_ORACLE = """
WITH d AS (
  SELECT doc_id,
         'd' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE))) AS INT) AS VARCHAR) AS dom,
         CAST((n_chars % 97) + 1 AS BIGINT) AS wgt,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || 'wrs'), 1, 8)) AS BIGINT) AS u32
  FROM documents
),
keyed AS (
  SELECT dom, doc_id, wgt,
         CAST(round(-ln((u32 + 1) / 4294967296.0) / CAST(wgt AS DOUBLE) * 1000000.0) AS BIGINT) AS sample_key
  FROM d
  WHERE wgt > 0
),
ranked AS (
  SELECT dom, doc_id, wgt, sample_key,
         row_number() OVER (PARTITION BY dom ORDER BY sample_key, doc_id) AS rk
  FROM keyed
)
SELECT dom, doc_id, wgt, sample_key FROM ranked WHERE rk <= 25
"""


@register("x74_weighted_sample_per_group", oracle=_X74_ORACLE)
def x74_weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted draw of 25 documents per derived domain
    (x38's domain construction; weight = (n_chars % 97) + 1)."""
    from docker_etl_spark.operators.corpus import weighted_sample_per_group

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("d"),
            F.floor(F.sqrt((F.col("doc_id") % 100).cast("double")))
            .cast("int")
            .cast("string"),
        ).alias("dom"),
        ((F.col("n_chars") % 97) + 1).cast("bigint").alias("wgt"),
    )
    return weighted_sample_per_group(d, "dom", "wgt", 25).select(
        "dom", "doc_id", "wgt", "sample_key"
    )


# ---------------------------------------------------------------------------
# x75 — exact-integer PageRank (operators/graph.pagerank_exact) over
# the customer↔supplier trade graph (orders ⋈ lineitem; node ids
# 2·custkey / 2·suppkey+1 keep the spaces disjoint). Fixed 5
# iterations, damping 85/100, scaled-BIGINT ranks with documented
# floor-division conventions — the oracle replays the iteration as 5
# chained MATERIALIZED CTEs, bit-for-bit.
# ---------------------------------------------------------------------------


def _x75_oracle(scale: int = 10**12, damp: int = 85, iters: int = 5) -> str:
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
),
und AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM edges
  UNION
  SELECT dst AS u, src AS v FROM edges
),
nodes AS MATERIALIZED (SELECT DISTINCT u FROM und),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS outdeg FROM und GROUP BY u
),
r0 AS MATERIALIZED (
  SELECT u, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes
)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
r{k} AS MATERIALIZED (
  SELECT b.u,
         CAST(({100 - damp} * ({scale} // (SELECT n FROM nn))) // 100
            + ({damp} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes b
  LEFT JOIN (
    SELECT e.v AS u, SUM(r.r // d.outdeg) AS s
    FROM und e JOIN r{k - 1} r ON e.u = r.u JOIN deg d ON e.u = d.u
    GROUP BY e.v
  ) s ON b.u = s.u
)""")
    return (
        head
        + "".join(rounds)
        + f"\nSELECT u AS node, r AS rank_scaled FROM r{iters}"
    )


@register("x75_pagerank_trade_graph", oracle=_x75_oracle())
def x75_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration exact-integer PageRank over the customer-supplier
    bipartite trade graph."""
    from docker_etl_spark.operators.graph import pagerank_exact

    od = F.col("o_orderdate").cast("date")
    orders = (
        load_table(spark, sf_dir, "orders")
        # one quarter of trade: the registry keeps the graph at a
        # bench-friendly size and the date predicate prunes at the
        # scan; the operator itself has no such restriction
        .filter((od >= F.lit("1997-01-01")) & (od < F.lit("1997-04-01")))
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return pagerank_exact(edges, iterations=5)


# ---------------------------------------------------------------------------
# x76 — fuzzy decontamination on the xxhash64 PRODUCTION path: x64's
# shape (corpus probed against the benchmark slice's signature store,
# in-batch arm off) with native long hashes instead of md5 string
# digests — the mode a 100-TB run would use (x53's measured ~25%
# cheaper per-row envelope). xxhash64 values are engine-specific, so
# the oracle is hash-INDEPENDENT in x53's style: ground truth = corpus
# docs with an exact-shingle-Jaccard >= threshold twin in the
# benchmark slice, brute-forced in SQL. Matching it asserts banding
# recall AND estimator agreement at this corpus (maximally separated:
# every true pair has J >= 0.9, no pair in (0.35, 0.9) — verified for
# x53 at sf0.001/0.01/0.1 and the x64 slice split reuses the same
# corpus). Output carries only the hash-independent columns.
# ---------------------------------------------------------------------------

_X76_ORACLE = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0),
shc AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
  WHERE len(w) >= 3
),
shb AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench)
  WHERE len(w) >= 3
),
truth AS (
  SELECT DISTINCT c.doc_id FROM shc c JOIN shb b
    ON CAST(len(list_intersect(c.s, b.s)) AS DOUBLE)
       / (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) >= 0.5
)
SELECT d.doc_id, t.doc_id IS NOT NULL AS is_contaminated
FROM corpus d LEFT JOIN truth t ON t.doc_id = d.doc_id
"""


@register("x76_fuzzy_decontamination_fast", oracle=_X76_ORACLE)
def x76_fuzzy_decontamination_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x64's decontamination probe on the xxhash64 production path
    (12 perms, 3 bands, est >= 0.5, in-batch arm off)."""
    from docker_etl_spark.operators._util import spread_for_compute
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        minhash_signature,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 31 != 0).select("doc_id", "text")
    bench_sigs = (
        spread_for_compute(
            d.filter(F.col("doc_id") % 31 == 0).filter(
                F.size(F.split("text", " ")) >= 3
            )
        )
        .select(
            "doc_id",
            minhash_signature(word_shingles("text", 3), 12, "xxhash64").alias(
                "sig"
            ),
        )
        .localCheckpoint(eager=False)
    )
    return incremental_minhash_dedup(
        corpus,
        bench_sigs,
        num_perm=12,
        bands=3,
        est_threshold=0.5,
        hash_fn="xxhash64",
        include_batch_pairs=False,
    ).select("doc_id", F.col("is_dup").alias("is_contaminated"))


# ---------------------------------------------------------------------------
# x77 — corpus-diversity census, approximate (HLL) mode guardrail:
# the exact census's (group, gram) distinct shuffle is its steepest
# 100x curve (14.9x, BASELINE.md); exact=False replaces it with one
# HLL++ sketch per group (approx_count_distinct, partial-aggregated
# map-side) and derives the n-gram TOTAL from doc-level gram counts —
# no wide shuffle at all. Sketch values are engine-specific, so the
# differential contract is cd01's: publish the EXACT integers plus
# within-bound flags comparing the approx estimates against them.
# ---------------------------------------------------------------------------

_X77_ORACLE = """
WITH d AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
  FROM documents
),
dw AS (
  SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS distinct_words
  FROM (SELECT source, unnest(w) AS t FROM d) GROUP BY source
),
g0 AS (
  SELECT source,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
  FROM d WHERE len(w) >= 3
),
gr AS (
  SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         CAST(count(*) AS BIGINT) AS total_ngrams
  FROM g0 GROUP BY source
)
SELECT dw.source, dw.distinct_words,
       coalesce(gr.distinct_ngrams, 0) AS distinct_ngrams,
       coalesce(gr.total_ngrams, 0) AS total_ngrams,
       TRUE AS words_within_5pct,
       TRUE AS ngrams_within_5pct,
       TRUE AS totals_exactly_equal
FROM dw LEFT JOIN gr ON gr.source = dw.source
"""


@register("x77_corpus_diversity_approx", oracle=_X77_ORACLE)
def x77_corpus_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (HLL) corpus-diversity census guardrailed against
    the exact one: |approx - exact| <= 5% per distinct count, and the
    sketch-free total must be EXACTLY the exact plan's total."""
    from docker_etl_spark.operators.text_analysis import corpus_diversity

    d = load_docs_spread(spark, sf_dir)
    ex = corpus_diversity(d).select(
        "source",
        "distinct_words",
        "distinct_ngrams",
        "total_ngrams",
    )
    ap = corpus_diversity(d, exact=False, rsd=0.02).select(
        "source",
        F.col("distinct_words").alias("__aw"),
        F.col("distinct_ngrams").alias("__ag"),
        F.col("total_ngrams").alias("__at"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(a.cast("double") - e.cast("double"))
        <= 0.05 * e.cast("double")
    ) | ((e == 0) & (a == 0))
    return ex.join(ap, "source").select(
        "source",
        "distinct_words",
        "distinct_ngrams",
        "total_ngrams",
        within(F.col("__aw"), F.col("distinct_words")).alias("words_within_5pct"),
        within(F.col("__ag"), F.col("distinct_ngrams")).alias("ngrams_within_5pct"),
        (F.col("__at") == F.col("total_ngrams")).alias("totals_exactly_equal"),
    )


# ---------------------------------------------------------------------------
# x78 — DIRECTED exact-integer PageRank (customer → supplier trade
# edges as given, no symmetrization). Every supplier is a sink, so
# the dangling-mass convention (pool D redistributed as D div n to
# every node, remainder dropped) is exercised on ~half the nodes —
# the oracle replays all rounds incl. the dangling pool as chained
# materialized CTEs.
# ---------------------------------------------------------------------------


def _x78_oracle(scale: int = 10**12, damp: int = 85, iters: int = 3) -> str:
    head = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
),
nodes AS MATERIALIZED (
  SELECT DISTINCT u FROM (SELECT u FROM edges UNION ALL SELECT v FROM edges)
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY u
),
dang AS MATERIALIZED (
  SELECT n.u FROM nodes n LEFT JOIN deg d ON n.u = d.u WHERE d.u IS NULL
),
r0 AS MATERIALIZED (
  SELECT u, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes
)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
d{k} AS MATERIALIZED (
  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dmass
  FROM r{k - 1} r JOIN dang ON r.u = dang.u
),
r{k} AS MATERIALIZED (
  SELECT b.u,
         CAST(({100 - damp} * ({scale} // (SELECT n FROM nn))) // 100
            + ({damp} * (COALESCE(s.s, 0)
                 + ((SELECT dmass FROM d{k}) // (SELECT n FROM nn)))) // 100
              AS BIGINT) AS r
  FROM nodes b
  LEFT JOIN (
    SELECT e.v AS u, SUM(r.r // d.outdeg) AS s
    FROM edges e JOIN r{k - 1} r ON e.u = r.u JOIN deg d ON e.u = d.u
    GROUP BY e.v
  ) s ON b.u = s.u
)""")
    return (
        head
        + "".join(rounds)
        + f"\nSELECT u AS node, r AS rank_scaled FROM r{iters}"
    )


@register("x78_pagerank_directed", oracle=_x78_oracle())
def x78_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration directed exact-integer PageRank over customer →
    supplier trade edges (suppliers are sinks: the dangling pool is
    live every round)."""
    from docker_etl_spark.operators.graph import pagerank_exact

    od = F.col("o_orderdate").cast("date")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((od >= F.lit("1997-01-01")) & (od < F.lit("1997-04-01")))
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return pagerank_exact(edges, iterations=3, directed=True)


# ---------------------------------------------------------------------------
# x79 — Count-Min frequency sketch (Cormode-Muthukrishnan): depth x
# width exact-integer cells addressed by the engine's portable md5
# bucket idiom, so the sketch replays bit-for-bit in the oracle (a
# stronger contract than the HLL error-bound checks — this sketch is
# state a pipeline can persist and merge ACROSS engines). The probe
# set is the exact top-15 words; cms_count >= exact always (the CMS
# one-sided guarantee, pinned as a column).
# ---------------------------------------------------------------------------

_X79_ORACLE = """
WITH words AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
  FROM documents
),
ent AS (
  SELECT w, k.k AS r,
         CAST(('0x' || substr(md5(w || chr(31) || 'cms' || CAST(k.k AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS b
  FROM words, (SELECT unnest(range(0, 4)) AS k) k
),
sketch AS (SELECT r, b, CAST(count(*) AS BIGINT) AS n FROM ent GROUP BY r, b),
top AS (
  SELECT w, CAST(count(*) AS BIGINT) AS exact_n
  FROM words GROUP BY w ORDER BY exact_n DESC, w LIMIT 15
),
probe AS (
  SELECT t.w, t.exact_n, k.k AS r,
         CAST(('0x' || substr(md5(t.w || chr(31) || 'cms' || CAST(k.k AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS b
  FROM top t, (SELECT unnest(range(0, 4)) AS k) k
),
est AS (
  SELECT p.w, p.exact_n, CAST(MIN(COALESCE(s.n, 0)) AS BIGINT) AS cms_n
  FROM probe p LEFT JOIN sketch s ON s.r = p.r AND s.b = p.b
  GROUP BY p.w, p.exact_n
)
SELECT w AS word, exact_n, cms_n, cms_n >= exact_n AS overestimates FROM est
"""


@register("x79_count_min_frequencies", oracle=_X79_ORACLE)
def x79_count_min_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS over document words (d=4, w=1024); exact top-15 probed."""
    from docker_etl_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    d = load_docs_spread(spark, sf_dir)
    words = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit("")
            )
        ).alias("w")
    ).localCheckpoint(eager=False)
    sketch = count_min_sketch(words, "w", depth=4, width=1024)
    top = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("w"))
        .limit(15)
    )
    return cms_estimate(sketch, top, "w", depth=4, width=1024).select(
        F.col("w").alias("word"),
        "exact_n",
        F.col("cms_count").alias("cms_n"),
        (F.col("cms_count") >= F.col("exact_n")).alias("overestimates"),
    )


# ---------------------------------------------------------------------------
# x80 — mergeable quantile rollup: per-day fixed-width integer
# histograms of order totals merged to per-month p50/p95/p99
# estimates WITHOUT re-scanning raw values — cd02's incremental-MAU
# recipe for quantiles. The estimate is the lower edge of the first
# bucket whose running count reaches ceil(p*total/100): floor-
# quantized exact quantile (within one bucket_width of truth by
# construction — pinned in tests), pure integer arithmetic, replays
# exactly cross-engine with no interpolation-convention drift.
# ---------------------------------------------------------------------------

_X80_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
         CAST(floor(o_totalprice / 512) AS BIGINT) AS bkt
  FROM orders
),
m AS (SELECT month, bkt, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY month, bkt),
c AS (
  SELECT month, bkt,
         SUM(n) OVER (PARTITION BY month ORDER BY bkt) AS cum,
         SUM(n) OVER (PARTITION BY month) AS total
  FROM m
)
SELECT month,
       CAST(MAX(total) AS BIGINT) AS total_n,
       CAST(MIN(CASE WHEN cum >= (50 * total + 99) // 100 THEN bkt END) * 512 AS BIGINT) AS p50_lo,
       CAST(MIN(CASE WHEN cum >= (95 * total + 99) // 100 THEN bkt END) * 512 AS BIGINT) AS p95_lo,
       CAST(MIN(CASE WHEN cum >= (99 * total + 99) // 100 THEN bkt END) * 512 AS BIGINT) AS p99_lo
FROM c GROUP BY month
"""


@register("x80_quantile_rollup", oracle=_X80_ORACLE)
def x80_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order-total histograms -> monthly quantile estimates."""
    from docker_etl_spark.operators.sketches import quantile_rollup

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month"),
        "o_totalprice",
    )
    _daily, est = quantile_rollup(
        o, "day", "month", "o_totalprice", bucket_width=512,
        percentiles=(50, 95, 99),
    )
    return est


# ---------------------------------------------------------------------------
# x81 — product quantization + ADC top-k (Jégou 2011), the
# compression half of IVF-PQ (the production ANN layout at 100 TB:
# codes are m small ints per vector; ADC search costs m table
# lookups per candidate instead of dim multiplies). Everything is
# the engine's deterministic integer spec — quantized grid, Lloyd
# codebooks (k-smallest-id init, argmin ties -> lower cid,
# floor-mean update, empty cluster keeps its centroid), exact-int
# ADC distances — so the oracle replays TRAINING, ENCODING and the
# SEARCH bit-for-bit as chained CTEs (m=2 subspaces, k=4, 1 round).
# ---------------------------------------------------------------------------


def _pq_sample_cte(src: str, n: int, seed: str = "pqtrain") -> str:
    """The shared PQ training-sample id set — pq_train draws one
    md5-keyed sample per INPUT FRAME (same seed for every subspace,
    so the id set is identical across them); emit this once and pass
    ``train_ids='pqt'`` to each subspace's CTEs."""
    return f""",
pqt AS MATERIALIZED (
  SELECT id FROM {src}
  ORDER BY md5(CAST(id AS VARCHAR) || ':{seed}') ASC, id ASC
  LIMIT {n}
)"""


def _x81_subspace_ctes(
    s: int,
    lo: int,
    hi: int,
    src: str = "vq",
    train_ids: str | None = None,
) -> str:
    """Per-subspace training + encoding CTEs: init -> one assignment
    round -> floor-mean centroids (init fallback) -> codes. ``src``
    must expose (id, v: bigint list); x81 trains on quantized
    vectors, x82 on IVF residuals. ``train_ids`` (a CTE name from
    :func:`_pq_sample_cte`) restricts TRAINING rows to the sampled
    ids — encoding (code{s}) always covers the full frame."""
    nd = hi - lo + 1
    t = f"sub{s}"
    sample = ""
    if train_ids is not None:
        t = f"sub{s}t"
        sample = f""",
sub{s}t AS MATERIALIZED (
  SELECT id, sv FROM sub{s} WHERE id IN (SELECT id FROM {train_ids})
)"""
    return f""",
sub{s} AS MATERIALIZED (SELECT id, v[{lo}:{hi}] AS sv FROM {src}){sample},
init{s} AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid, sv AS cv
  FROM {t} ORDER BY id LIMIT 4
),
sa{s} AS MATERIALIZED (
  SELECT id, sv, cid,
         ROW_NUMBER() OVER (
           PARTITION BY id
           ORDER BY list_sum(list_transform(range(1, {nd + 1}),
                    i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cid ASC
         ) AS rn
  FROM {t}, init{s}
),
centu{s} AS MATERIALIZED (
  SELECT cid, list(val ORDER BY dim) AS cv FROM (
    SELECT a.cid, r.i AS dim,
           CAST(FLOOR(CAST(SUM(a.sv[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
    FROM (SELECT id, sv, cid FROM sa{s} WHERE rn = 1) a
    CROSS JOIN range(1, {nd + 1}) r(i)
    GROUP BY a.cid, r.i
  ) GROUP BY cid
),
pcent{s} AS MATERIALIZED (
  SELECT i.cid, COALESCE(u.cv, i.cv) AS cv
  FROM init{s} i LEFT JOIN centu{s} u ON i.cid = u.cid
),
code{s} AS MATERIALIZED (
  SELECT id, cid AS code FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (
             PARTITION BY id
             ORDER BY list_sum(list_transform(range(1, {nd + 1}),
                      i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) ASC, cid ASC
           ) AS rn
    FROM sub{s}, pcent{s}
  ) WHERE rn = 1
),
t{s} AS MATERIALIZED (
  SELECT q.id AS qid, c.cid,
         CAST(list_sum(list_transform(range(1, {nd + 1}),
              i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) AS BIGINT) AS d
  FROM sub{s} q, pcent{s} c WHERE q.id < 3
)"""


_X81_ORACLE = (
    """
WITH src AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
),
vq AS MATERIALIZED (
  SELECT id, list_transform(dv, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v
  FROM vq_src
)"""
    .replace("vq_src", "src")
    + _pq_sample_cte("vq", 128)
    + _x81_subspace_ctes(0, 1, 32, train_ids="pqt")
    + _x81_subspace_ctes(1, 33, 64, train_ids="pqt")
    + """,
cand AS (
  SELECT t0.qid, c0.id AS neighbor_id, t0.d + t1.d AS adc_dist
  FROM code0 c0
  JOIN code1 c1 ON c1.id = c0.id
  JOIN t0 ON t0.cid = c0.code
  JOIN t1 ON t1.cid = c1.code AND t1.qid = t0.qid
  WHERE c0.id <> t0.qid
),
ranked AS (
  SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY adc_dist ASC, neighbor_id ASC
         ) AS rank
  FROM cand
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
FROM ranked WHERE rank <= 3
"""
)


@register("x81_pq_adc_topk", oracle=_X81_ORACLE)
def x81_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebooks (m=2, k=4, 1 Lloyd round, 128-point md5-sample
    training) over the embeddings;
    vectors encoded to 2-int codes; ADC top-3 for queries vec_id<3."""
    from docker_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    books = pq_train(
        em, "dv", "vec_id", dim=64, m=2, k=4, iterations=1,
        max_training_points=128,
    )
    codes = pq_encode(em, "dv", "vec_id", books)
    queries = em.filter(F.col("vec_id") < 3)
    out = pq_adc_topk(
        queries, codes, books, vec_col="dv", query_id_col="vec_id",
        code_id_col="vec_id", topk=3,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# x82 — residual IVF-PQ, the full production ANN composition (FAISS
# IVFPQ): vectors coarse-assign to integer-Lloyd cells (re-assigned
# against the FINAL centroids — the encode-with-trained-quantizer
# convention), PQ codebooks train on the RESIDUALS, and nprobe=1
# search routes each query to its nearest cell, builds ADC tables
# against its residual, and scans only that cell's codes. The oracle
# replays coarse training (x23's shared CTEs), re-assignment,
# residuals, per-subspace PQ training/encoding (x81's CTEs sourced
# from the residual frame), routing and the cell-pruned ADC scan —
# every stage bit-for-bit.
# ---------------------------------------------------------------------------

# The middle (coarse-centroid finalize -> full-corpus cell assignment
# -> residuals) and tail (nprobe=1 routing + cell-pruned ADC scan) of
# the x82 chain, shared with x91 (which restricts the training-sample
# POOLS to the even-id build batch but probes the full index).
_X82_MID = """,
cent2u AS MATERIALIZED (
  SELECT cid, list(val ORDER BY dim) AS cv FROM (
    SELECT a.cid, r.i AS dim,
           CAST(FLOOR(CAST(SUM(a.v[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
    FROM assign2 a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.cid, r.i
  ) GROUP BY cid
),
cent2 AS MATERIALIZED (
  -- empty cluster keeps its round-1 centroid (mirrors the kernel)
  SELECT c.cid, COALESCE(u.cv, c.cv) AS cv
  FROM cent1 c LEFT JOIN cent2u u ON c.cid = u.cid
),
cellassign AS MATERIALIZED (
  SELECT id, v, cid AS cell FROM (
    SELECT q.id, q.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.id
             ORDER BY list_sum(list_transform(range(1, 65),
                      i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) ASC,
                      c.cid ASC
           ) AS rn
    FROM vq q, cent2 c
  ) WHERE rn = 1
),
rq AS MATERIALIZED (
  SELECT a.id,
         list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS v
  FROM cellassign a JOIN cent2 c ON c.cid = a.cell
)"""

_X82_TAIL = """,
qcell AS (SELECT id AS qid, cell FROM cellassign WHERE id < 3),
cand AS (
  SELECT t0.qid, c0.id AS neighbor_id, t0.d + t1.d AS adc_dist
  FROM cellassign ix
  JOIN qcell ON qcell.cell = ix.cell
  JOIN code0 c0 ON c0.id = ix.id
  JOIN code1 c1 ON c1.id = ix.id
  JOIN t0 ON t0.cid = c0.code AND t0.qid = qcell.qid
  JOIN t1 ON t1.cid = c1.code AND t1.qid = qcell.qid
  WHERE ix.id <> qcell.qid
),
ranked AS (
  SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY adc_dist ASC, neighbor_id ASC
         ) AS rank
  FROM cand
)"""

# the default final projection (x82/x91); x92/x93 swap in a refine /
# recall-eval suffix over the same `ranked` CTE
_X82_FINAL = """
SELECT qid AS query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
FROM ranked WHERE rank <= 3
"""


def _ivfpq_chain(suffix: str, coarse_where: str = "", pq_where: str = "") -> str:
    """The full shared IVF-PQ oracle chain (sampled coarse training ->
    centroid finalize -> cell assignment -> residual PQ -> nprobe=1
    routing -> ADC `ranked`), closed by ``suffix``."""
    return (
        _kmeans_ctes(_X23_SRC, sample_n=128, sample_where=coarse_where)
        + _X82_MID
        + _pq_sample_cte("rq" + ((" " + pq_where) if pq_where else ""), 128)
        + _x81_subspace_ctes(0, 1, 32, src="rq", train_ids="pqt")
        + _x81_subspace_ctes(1, 33, 64, src="rq", train_ids="pqt")
        + _X82_TAIL
        + suffix
    )


_X82_ORACLE = _ivfpq_chain(_X82_FINAL)


@register("x82_ivfpq_topk", oracle=_X82_ORACLE)
def x82_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ over the embeddings (4 cells x 2 Lloyd rounds;
    PQ m=2/k=4/1 round on residuals; both quantizers train on the
    128-point md5 sample); nprobe=1 ADC top-3, vec_id<3."""
    from docker_etl_spark.operators.similarity import ivfpq_build, ivfpq_topk

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    queries = em.filter(F.col("vec_id") < 3)
    out = ivfpq_topk(
        queries, index, coarse, books, vec_col="dv",
        query_id_col="vec_id", topk=3,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# x83 — token-balanced shard packing (corpus-assembly finisher):
# longest-processing-time order (weight DESC, id) + serpentine
# round-robin = near-equal per-shard token totals (data loaders
# stall on the largest shard). Global rank computed with x67's
# no-single-partition-window recipe; pure integer construction, so
# the oracle replays the exact assignment with one window.
# ---------------------------------------------------------------------------

_X83_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
              AS BIGINT) AS w
  FROM documents
),
r AS (
  SELECT doc_id, w,
         ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) - 1 AS p
  FROM d
),
s AS (
  SELECT doc_id, w,
         CASE WHEN (p // 8) % 2 = 0 THEN p % 8 ELSE 7 - (p % 8) END AS shard
  FROM r
)
SELECT CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_tokens
FROM s GROUP BY shard
"""


@register("x83_shard_packing", oracle=_X83_ORACLE)
def x83_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents packed into 8 token-balanced shards; per-shard census."""
    from docker_etl_spark.operators.corpus import pack_shards

    d = load_docs_spread(spark, sf_dir)
    wc = F.size(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit(""))
    )
    weighted = d.select("doc_id", wc.cast("long").alias("n_tokens"))
    assigned = pack_shards(weighted, "n_tokens", n_shards=8, id_col="doc_id")
    return assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("weight").cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# x84 — Poisson bootstrap CI for per-source mean document length
# (Chamandy 2012, "Estimating uncertainty for massive data streams":
# per-row Poisson(1) multiplicities make the bootstrap a single
# distributed pass — no fixed-N global resample). Deterministic:
# md5(id:b:seed) -> u32 -> quantized Poisson inverse CDF (integer
# compares); replicate means are one IEEE division of exact integer
# sums; CI endpoints are rank statistics over the B=40 replicate
# means. The oracle replays draws, sums and order statistics.
# ---------------------------------------------------------------------------

_X84_ORACLE = """
WITH d AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
),
reps AS (
  SELECT source, b,
         CAST(SUM(CASE
           WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
           WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
           WHEN u < 4279248373 THEN 4 ELSE 5 END * v) AS BIGINT) AS s,
         CAST(SUM(CASE
           WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
           WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
           WHEN u < 4279248373 THEN 4 ELSE 5 END) AS BIGINT) AS n
  FROM (
    SELECT d.source, d.doc_id, d.v, b.b,
           CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                 CAST(b.b AS VARCHAR) || ':boot'), 1, 8)) AS BIGINT) AS u
    FROM d, (SELECT unnest(range(0, 40)) AS b) b
  )
  GROUP BY source, b
),
means AS (
  SELECT source, list_sort(list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS ms
  FROM reps WHERE n > 0 GROUP BY source
),
exact AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean
  FROM d GROUP BY source
)
SELECT e.source, e.n_rows, e.mean,
       m.ms[1] AS ci_lo,
       m.ms[least(39, len(m.ms))] AS ci_hi
FROM exact e JOIN means m ON m.source = e.source
"""


@register("x84_bootstrap_mean_ci", oracle=_X84_ORACLE)
def x84_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean n_chars with a 40-replicate Poisson-bootstrap
    rank CI (ranks 1 and 39)."""
    from docker_etl_spark.operators.aggregates import (
        poisson_bootstrap_mean_ci,
    )

    d = load_docs_spread(spark, sf_dir)
    return poisson_bootstrap_mean_ci(
        d, ["source"], "n_chars", "doc_id", n_replicates=40,
    )


# ---------------------------------------------------------------------------
# x85 — fuzzy entity matching (entity resolution): supplier-name
# pairs within 2 Levenshtein edits inside the same nation. Candidate
# generation is a LOSSLESS length band (edit distance >= |Δlen|, so
# width-3 buckets with ±1 emission cover every qualifying pair as an
# equi join); the nation attribute block bounds per-bucket
# population. The oracle brute-forces within nation — candidate
# completeness and the integer distance both verified.
# ---------------------------------------------------------------------------

_X85_ORACLE = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_name AS name_a, b.s_name AS name_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS distance
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""


@register("x85_fuzzy_entity_match", oracle=_X85_ORACLE)
def x85_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier near-name pairs (ed <= 2) within nation blocks."""
    from docker_etl_spark.operators.joins import fuzzy_entity_match

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return fuzzy_entity_match(
        s, id_col="s_suppkey", name_col="s_name", max_distance=2,
        block_cols=("s_nationkey",),
    )


# ---------------------------------------------------------------------------
# x86 — CUSUM change-point alarm over daily order counts per
# priority (the level-shift monitor complementing x62/x68's
# distribution drift; reference analogue: search-alert's lag-window
# anomaly checks). The recurrence S_t = max(0, S_{t-1} + d_t) is
# windowable via S_t = P_t - min(0, running_min(P)) over the prefix
# sums of exact scaled deviations (d_t = n_days*x_t - total), so the
# statistic and every alarm replay bit-for-bit.
# ---------------------------------------------------------------------------

_X86_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1, 2
),
stats AS (
  SELECT priority, day, n,
         COUNT(*) OVER (PARTITION BY priority) AS nd,
         SUM(n) OVER (PARTITION BY priority) AS tot
  FROM daily
),
pref AS (
  SELECT priority, day, n,
         SUM(nd * n - tot) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS p
  FROM stats
),
run AS (
  SELECT priority, day, n, p,
         MIN(least(p, 0)) OVER (
           PARTITION BY priority ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS m
  FROM pref
)
SELECT priority, day, n AS value,
       CAST(p - m AS BIGINT) AS cusum_scaled,
       (p - m) >= 20000 AS alarm
FROM run
"""


@register("x86_cusum_changepoint", oracle=_X86_ORACLE)
def x86_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority CUSUM over 1995 daily order counts."""
    from docker_etl_spark.operators.profiling import cusum_alarm

    od = F.col("o_orderdate").cast("date")
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter((od >= F.lit("1995-01-01")) & (od < F.lit("1996-01-01")))
        .groupBy(
            F.col("o_orderpriority").alias("priority"), od.alias("day")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return cusum_alarm(
        daily, "day", "n", threshold_scaled=20000, group_by=("priority",)
    )


# ---------------------------------------------------------------------------
# x87 — IVF-PQ with nprobe=2, the recall/cost knob exercised: each
# query scans its TWO nearest cells (sorted (dist, cid), ties ->
# lower cid). Identical pipeline to x82 otherwise; the oracle extends
# x82's replay with a rank <= 2 cell routing per query.
# ---------------------------------------------------------------------------

_X87_ORACLE = (
    _kmeans_ctes(_X23_SRC, sample_n=128)
    + """,
cent2u AS MATERIALIZED (
  SELECT cid, list(val ORDER BY dim) AS cv FROM (
    SELECT a.cid, r.i AS dim,
           CAST(FLOOR(CAST(SUM(a.v[r.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
    FROM assign2 a CROSS JOIN range(1, 65) r(i)
    GROUP BY a.cid, r.i
  ) GROUP BY cid
),
cent2 AS MATERIALIZED (
  -- empty cluster keeps its round-1 centroid (mirrors the kernel)
  SELECT c.cid, COALESCE(u.cv, c.cv) AS cv
  FROM cent1 c LEFT JOIN cent2u u ON c.cid = u.cid
),
cellrank AS MATERIALIZED (
  SELECT id, v, cid, rn FROM (
    SELECT q.id, q.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.id
             ORDER BY list_sum(list_transform(range(1, 65),
                      i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) ASC,
                      c.cid ASC
           ) AS rn
    FROM vq q, cent2 c
  )
),
cellassign AS MATERIALIZED (
  SELECT id, v, cid AS cell FROM cellrank WHERE rn = 1
),
rq AS MATERIALIZED (
  SELECT a.id,
         list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS v
  FROM cellassign a JOIN cent2 c ON c.cid = a.cell
)"""
    + _pq_sample_cte("rq", 128)
    + _x81_subspace_ctes(0, 1, 32, src="rq", train_ids="pqt")
    + _x81_subspace_ctes(1, 33, 64, src="rq", train_ids="pqt")
    + """,
qcell AS (SELECT id AS qid, cid AS cell FROM cellrank WHERE id < 3 AND rn <= 2),
qres AS MATERIALIZED (
  -- the query residual is taken against EACH probed cell's centroid
  -- (the FAISS per-cell ADC convention), not only the home cell
  SELECT q.id AS qid, qc.cell,
         list_transform(range(1, 65), i -> q.v[i] - c.cv[i]) AS v
  FROM vq q JOIN qcell qc ON qc.qid = q.id JOIN cent2 c ON c.cid = qc.cell
),
qt0 AS MATERIALIZED (
  SELECT r.qid, r.cell, pc.cid,
         CAST(list_sum(list_transform(range(1, 33),
              i -> (r.v[i] - pc.cv[i]) * (r.v[i] - pc.cv[i]))) AS BIGINT) AS d
  FROM qres r, pcent0 pc
),
qt1 AS MATERIALIZED (
  SELECT r.qid, r.cell, pc.cid,
         CAST(list_sum(list_transform(range(1, 33),
              i -> (r.v[i + 32] - pc.cv[i]) * (r.v[i + 32] - pc.cv[i]))) AS BIGINT) AS d
  FROM qres r, pcent1 pc
),
cand AS (
  SELECT qcell.qid, c0.id AS neighbor_id, qt0.d + qt1.d AS adc_dist
  FROM cellassign ix
  JOIN qcell ON qcell.cell = ix.cell
  JOIN code0 c0 ON c0.id = ix.id
  JOIN code1 c1 ON c1.id = ix.id
  JOIN qt0 ON qt0.qid = qcell.qid AND qt0.cell = qcell.cell AND qt0.cid = c0.code
  JOIN qt1 ON qt1.qid = qcell.qid AND qt1.cell = qcell.cell AND qt1.cid = c1.code
  WHERE ix.id <> qcell.qid
),
ranked AS (
  SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY adc_dist ASC, neighbor_id ASC
         ) AS rank
  FROM cand
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, neighbor_id, adc_dist
FROM ranked WHERE rank <= 3
"""
)


@register("x87_ivfpq_nprobe2", oracle=_X87_ORACLE)
def x87_ivfpq_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x82's residual IVF-PQ with nprobe=2 (the recall knob)."""
    from docker_etl_spark.operators.similarity import ivfpq_build, ivfpq_topk

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    queries = em.filter(F.col("vec_id") < 3)
    out = ivfpq_topk(
        queries, index, coarse, books, vec_col="dv",
        query_id_col="vec_id", topk=3, nprobe=2,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# x88 — MAD-based robust outlier flags over daily order counts per
# priority (the heavy-tail-safe sibling of an01's rule thresholds
# and x86's CUSUM level shifts: a genuine spike inflates a stddev
# enough to hide itself; the median/MAD don't move). Medians are
# rank statistics (ceil(n/2)-th smallest, no interpolation) and the
# 0.6745-consistency x 3-sigma threshold folds into one integer
# cross-multiplication — every flag replays bit-for-bit.
# ---------------------------------------------------------------------------

_X88_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1, 2
),
withk AS (
  SELECT *, CAST(ceil(COUNT(*) OVER (PARTITION BY priority) / 2.0) AS BIGINT) AS k,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY value ASC, day ASC) AS rn
  FROM daily
),
med AS (
  SELECT priority, day, value, k,
         MAX(CASE WHEN rn = k THEN value END)
           OVER (PARTITION BY priority) AS median
  FROM withk
),
withd AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY priority ORDER BY abs(value - median) ASC, day ASC
         ) AS rn2
  FROM med
),
madt AS (
  SELECT priority, day, value, median,
         MAX(CASE WHEN rn2 = k THEN abs(value - median) END)
           OVER (PARTITION BY priority) AS mad
  FROM withd
)
SELECT priority, day, value,
       CAST(median AS BIGINT) AS median, CAST(mad AS BIGINT) AS mad,
       6745 * abs(value - median) > 30000 * mad AS outlier
FROM madt
"""


@register("x88_mad_outliers", oracle=_X88_ORACLE)
def x88_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority MAD outlier flags over 1995 daily order counts."""
    from docker_etl_spark.operators.profiling import mad_outliers

    od = F.col("o_orderdate").cast("date")
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter((od >= F.lit("1995-01-01")) & (od < F.lit("1996-01-01")))
        .groupBy(
            F.col("o_orderpriority").alias("priority"), od.alias("day")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return mad_outliers(daily, "day", "n", group_by=("priority",))


# ---------------------------------------------------------------------------
# x89 — Theil–Sen robust trend per priority over 1995 daily order
# counts (median of all pairwise slopes — tolerant of ~29% arbitrary
# outliers where least squares is poisoned by one; completes the
# robust-monitoring family with x86/x88). Slopes are one IEEE
# division of exact integers each; the median is a rank statistic.
# ---------------------------------------------------------------------------

_X89_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1, 2
),
idx AS (
  SELECT priority,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY day) AS x,
         n AS y
  FROM daily
),
pairs AS (
  SELECT a.priority,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM idx a JOIN idx b ON a.priority = b.priority AND a.x < b.x
),
s AS (
  SELECT priority, list_sort(list(slope)) AS sl FROM pairs GROUP BY priority
)
SELECT priority, CAST(len(sl) AS BIGINT) AS n_pairs,
       sl[CAST(ceil(len(sl) / 2.0) AS BIGINT)] AS slope_per_period
FROM s
"""


@register("x89_theil_sen_trend", oracle=_X89_ORACLE)
def x89_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority Theil-Sen slope over 1995 daily order counts."""
    from docker_etl_spark.operators.profiling import theil_sen_trend

    od = F.col("o_orderdate").cast("date")
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter((od >= F.lit("1995-01-01")) & (od < F.lit("1996-01-01")))
        .groupBy(
            F.col("o_orderpriority").alias("priority"), od.alias("day")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return theil_sen_trend(daily, "day", "n", group_by=("priority",))


# ---------------------------------------------------------------------------
# x90 — the IVF-PQ index through its STORE lifecycle: build (sampled
# training), persist the (codes, quantizer-sidecar) layout, reload,
# and probe the RELOADED index with static cell partition pruning.
# Semantically identical to x82 — the oracle IS x82's chain — so a
# hash match proves the persist/reload roundtrip is lossless and the
# pruned probe reads enough. The store write is the registry's only
# disk-mutating query family (s05/s07 precedent); the path is
# pid-keyed tmp.
# ---------------------------------------------------------------------------


#: the store paths this process has handed out, each removed at exit
_STORE_PATHS: set[str] = set()


def _x90_store_path(tag: str, sf_dir: str) -> str:
    """The pid-keyed temp path a registry query writes its store (or
    roundtrip files) to. The query returns a lazy frame that still
    reads them, so they cannot go at return: the process removes the
    path at exit."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"docker_etl_spark_{tag}_{os.getpid()}_{h}"
    )
    if path not in _STORE_PATHS:
        _STORE_PATHS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@register("x90_ivfpq_store_probe", oracle=_X82_ORACLE)
def x90_ivfpq_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x82's index built once, persisted, reloaded, probed pruned."""
    import shutil

    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        write_ivfpq_store,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    path = _x90_store_path("x90", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_ivfpq_store(index, coarse, books, path, id_col="vec_id")
    idx2, coarse2, books2, meta = load_ivfpq_store(spark, path)
    queries = em.filter(F.col("vec_id") < 3)
    out = ivfpq_topk(
        queries, idx2, coarse2, books2, vec_col="dv",
        query_id_col="vec_id", topk=3, prune_index_partitions=True,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# x91 — incremental index ingest: build+persist the index from the
# EVEN-id batch (quantizers train on a sample of evens only), then
# ivfpq_append the ODD-id batch — encoded against the STORED
# quantizers, no retraining — and probe the merged store. The oracle
# replays the split exactly: the coarse and PQ training-sample pools
# restrict to even ids, while cell assignment, encoding and the ADC
# scan cover every vector — a 100 TB pipeline's per-batch cost is one
# map-only encode pass, and this query pins that contract bit-for-bit.
# ---------------------------------------------------------------------------

_X91_ORACLE = _ivfpq_chain(
    _X82_FINAL,
    coarse_where="WHERE id % 2 = 0",
    pq_where="WHERE id % 2 = 0",
)


@register("x91_ivfpq_append_probe", oracle=_X91_ORACLE)
def x91_ivfpq_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-id build + odd-id append, probed as one merged index."""
    import shutil

    from docker_etl_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        write_ivfpq_store,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    evens = em.filter(F.col("vec_id") % 2 == 0)
    odds = em.filter(F.col("vec_id") % 2 == 1)
    index, coarse, books = ivfpq_build(
        evens, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    path = _x90_store_path("x91", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_ivfpq_store(index, coarse, books, path, batch_id=0, id_col="vec_id")
    ivfpq_append(odds, path, "dv", "vec_id", batch_id=1)
    idx2, coarse2, books2, meta = load_ivfpq_store(spark, path)
    queries = em.filter(F.col("vec_id") < 3)
    out = ivfpq_topk(
        queries, idx2, coarse2, books2, vec_col="dv",
        query_id_col="vec_id", topk=3, prune_index_partitions=True,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# x92 — IVF-PQ with the exact-refine re-rank (FAISS IVFPQR): ADC
# distances are lossy (residuals quantized to m codewords), so the
# production composition takes the top k·r ADC candidates and
# re-ranks them by EXACT integer squared L2 on the original
# (quantized) vectors — recall of the exact metric at a candidate-
# budget-bounded cost. The oracle extends the shared chain with the
# refine join over the same `ranked` CTE.
# ---------------------------------------------------------------------------

_X92_ORACLE = _ivfpq_chain(
    """
, refine AS (
  SELECT r.qid, r.neighbor_id,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (q.v[i] - n.v[i]) * (q.v[i] - n.v[i]))) AS BIGINT)
             AS exact_dist
  FROM ranked r
  JOIN vq q ON q.id = r.qid
  JOIN vq n ON n.id = r.neighbor_id
  WHERE r.rank <= 12
),
rer AS (
  SELECT qid, neighbor_id, exact_dist,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY exact_dist ASC, neighbor_id ASC
         ) AS rank
  FROM refine
)
SELECT qid AS query_id, CAST(rank AS INT) AS rank, neighbor_id, exact_dist
FROM rer WHERE rank <= 3
"""
)


@register("x92_ivfpq_refined", oracle=_X92_ORACLE)
def x92_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x82's index; ADC top-12 candidates re-ranked exactly to top-3."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk_refined,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    queries = em.filter(F.col("vec_id") < 3)
    out = ivfpq_topk_refined(
        queries, index, coarse, books, em, vec_col="dv",
        query_id_col="vec_id", corpus_id_col="vec_id", topk=3,
        refine_factor=4,
    )
    return out.select(
        F.col("vec_id").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "exact_dist",
    )


# ---------------------------------------------------------------------------
# x93 — IVF-PQ recall eval: recall@3 of the ADC search against the
# exact integer-L2 ground truth, per query — approximation quality as
# a regression-testable NUMBER (the x52/x71 pattern applied to the
# ANN family; any quantizer/codebook/nprobe regression moves it).
# ---------------------------------------------------------------------------

_X93_ORACLE = _ivfpq_chain(
    """
, qids AS (SELECT DISTINCT id AS qid FROM vq WHERE id < 3),
exact AS (
  SELECT qid, neighbor_id, ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY d ASC, neighbor_id ASC
         ) AS rnk
  FROM (
    SELECT q.id AS qid, n.id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, 65),
                i -> (q.v[i] - n.v[i]) * (q.v[i] - n.v[i]))) AS BIGINT) AS d
    FROM vq q JOIN vq n ON n.id <> q.id
    WHERE q.id < 3
  )
),
hits AS (
  SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM ranked r
  JOIN exact e ON e.qid = r.qid AND e.neighbor_id = r.neighbor_id
  WHERE r.rank <= 3 AND e.rnk <= 3
  GROUP BY r.qid
)
SELECT q.qid AS query_id,
       CAST(3 AS BIGINT) AS k,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       COALESCE(h.n_hit, 0) / 3.0 AS recall
FROM qids q LEFT JOIN hits h ON h.qid = q.qid
"""
)


@register("x93_ivfpq_recall_eval", oracle=_X93_ORACLE)
def x93_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of x82's ADC search vs exact ground truth."""
    from pyspark.sql import Window

    from docker_etl_spark.operators.similarity import ivfpq_build, ivfpq_topk

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    queries = em.filter(F.col("vec_id") < 3)
    adc = ivfpq_topk(
        queries, index, coarse, books, vec_col="dv",
        query_id_col="vec_id", topk=3,
    ).select(F.col("vec_id").alias("__qid"), "neighbor_id")

    quant = F.transform(
        "dv", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    qv = queries.select(F.col("vec_id").alias("__qid"), quant.alias("__qv"))
    nv = em.select(F.col("vec_id").alias("neighbor_id"), quant.alias("__nv"))
    d = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__nv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("__qid").orderBy(F.asc("__d"), F.asc("neighbor_id"))
    exact = (
        nv.join(F.broadcast(qv), F.col("neighbor_id") != F.col("__qid"))
        .select("__qid", "neighbor_id", d.alias("__d"))
        .withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= 3)
        .select("__qid", "neighbor_id")
    )
    hits = (
        adc.join(exact, ["__qid", "neighbor_id"])
        .groupBy("__qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    qids = queries.select(F.col("vec_id").alias("__qid")).distinct()
    return (
        qids.join(hits, "__qid", "left")
        .select(
            F.col("__qid").alias("query_id"),
            F.lit(3).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.lit(3.0)
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# x94 — multi-probe sign-LSH (Lv et al. 2007): queries additionally
# probe, per table, the bucket with their LOWEST-MARGIN bit flipped —
# the query-side recall knob that needs no extra corpus hashing or
# store space, the LSH analogue of IVF's nprobe (x87). Exact-int
# margins make the probe choice (ties -> lower plane index) and the
# whole candidate set bit-replayable in SQL.
# ---------------------------------------------------------------------------


def _signlsh_projs_case_sql(dim: int, n_planes: int, n_tables: int, seed: int) -> str:
    """DuckDB fragment: per (v, tbl) the LIST of quantized-plane
    projections — the shared input to the home bucket, the margin
    argmin, and the flipped bucket."""
    from docker_etl_spark.operators.similarity import (
        quantize_planes,
        random_hyperplanes,
    )

    whens = []
    for t in range(n_tables):
        planes = quantize_planes(random_hyperplanes(dim, n_planes, seed + t))
        rows = ", ".join(
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> v[i] * ([{','.join(map(str, row))}])[i]))"
            for row in planes
        )
        whens.append(f"WHEN {t} THEN [{rows}]")
    return "CASE tbl " + " ".join(whens) + " END"


_X94_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
  FROM embeddings
),
tabs AS (SELECT unnest(range(0, 4)) AS tbl),
bk AS (
  SELECT vec_id, v, tbl, {_signlsh_bucket_case_sql(64, 8, 4, 42)} AS bkt
  FROM e, tabs
),
qp AS (
  SELECT vec_id, v, tbl, {_signlsh_projs_case_sql(64, 8, 4, 42)} AS projs
  FROM e, tabs WHERE vec_id < 5
),
qb AS (
  SELECT vec_id, v, tbl, projs,
         CAST(list_sum(list_transform(range(0, 8),
              i -> CASE WHEN projs[i + 1] >= 0
                        THEN CAST(1 << i AS BIGINT) ELSE CAST(0 AS BIGINT) END))
              AS BIGINT) AS bkt,
         list_sort(list_transform(range(0, 8),
              i -> {{'a': abs(projs[i + 1]), 'i': i}}))[1].i AS fi
  FROM qp
),
qprobe AS (
  SELECT vec_id, v, tbl, bkt FROM qb
  UNION ALL
  SELECT vec_id, v, tbl,
         bkt + (CAST(1 AS BIGINT) - 2 * (CASE WHEN projs[fi + 1] >= 0 THEN 1 ELSE 0 END))
               * (CAST(1 AS BIGINT) << fi) AS bkt
  FROM qb
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM qprobe q JOIN bk c ON q.tbl = c.tbl AND q.bkt = c.bkt
  WHERE c.vec_id != q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         CAST(list_sum(list_transform(range(1, 65), i -> qe.v[i] * ce.v[i])) AS DOUBLE)
           / sqrt(CAST(list_sum(list_transform(qe.v, x -> x * x))
                       * list_sum(list_transform(ce.v, x -> x * x)) AS DOUBLE)) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.corpus_id
)
SELECT query_id, corpus_id, cosine FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) <= 3
"""


@register("x94_ann_lsh_multiprobe", oracle=_X94_ORACLE)
def x94_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x11's sign-LSH search with one lowest-margin probe per table."""
    em = load_table(spark, sf_dir, "embeddings")
    vec = F.expr(_QUANTIZE_SQL.format(src="embedding"))
    q = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), vec.alias("vec")
    )
    c = em.select(F.col("vec_id").alias("corpus_id"), vec.alias("vec"))
    return cosine_topk_lsh(
        q, c, dim=64, k=3, n_planes=8, n_tables=4, exact_int=True,
        multiprobe=True,
    )


# ---------------------------------------------------------------------------
# x95 — seasonality-aware robust outliers over daily order counts per
# priority: a weekly rhythm would either inflate the global MAD until
# real anomalies hide or flag every peak weekday, so x88's monitor
# first removes a per-(priority, day-of-week) rank-statistic median
# baseline and flags MAD outliers on the RESIDUALS. Season key is
# (day − origin) mod 7 — pure integer arithmetic, no calendar/locale
# functions, bit-identical in any engine.
# ---------------------------------------------------------------------------

_X95_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS value
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1, 2
),
seas AS (
  SELECT *, CAST((((day - DATE '1995-01-01') % 7) + 7) % 7 AS INT) AS season FROM daily
),
sk AS (
  SELECT *, CAST(ceil(COUNT(*) OVER (PARTITION BY priority, season) / 2.0) AS BIGINT) AS ks,
         ROW_NUMBER() OVER (
           PARTITION BY priority, season ORDER BY value ASC, day ASC
         ) AS srn
  FROM seas
),
sbase AS (
  SELECT priority, day, value, season,
         MAX(CASE WHEN srn = ks THEN value END)
           OVER (PARTITION BY priority, season) AS season_median
  FROM sk
),
resids AS (
  SELECT priority, day, value, season, season_median,
         value - season_median AS resid
  FROM sbase
),
withk AS (
  SELECT *, CAST(ceil(COUNT(*) OVER (PARTITION BY priority) / 2.0) AS BIGINT) AS k,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY resid ASC, day ASC) AS rn
  FROM resids
),
med AS (
  SELECT priority, day, value, season, season_median, resid, k,
         MAX(CASE WHEN rn = k THEN resid END)
           OVER (PARTITION BY priority) AS resid_median
  FROM withk
),
withd AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY priority ORDER BY abs(resid - resid_median) ASC, day ASC
         ) AS rn2
  FROM med
),
madt AS (
  SELECT priority, day, value, season, season_median, resid, resid_median,
         MAX(CASE WHEN rn2 = k THEN abs(resid - resid_median) END)
           OVER (PARTITION BY priority) AS resid_mad
  FROM withd
)
SELECT priority, day, value, season,
       CAST(season_median AS BIGINT) AS season_median,
       CAST(resid AS BIGINT) AS resid,
       CAST(resid_median AS BIGINT) AS resid_median,
       CAST(resid_mad AS BIGINT) AS resid_mad,
       6745 * abs(resid - resid_median) > 30000 * resid_mad AS outlier
FROM madt
"""


@register("x95_seasonal_mad_outliers", oracle=_X95_ORACLE)
def x95_seasonal_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority weekly-deseasonalized MAD outliers, 1995 dailies."""
    from docker_etl_spark.operators.profiling import seasonal_mad_outliers

    od = F.col("o_orderdate").cast("date")
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter((od >= F.lit("1995-01-01")) & (od < F.lit("1996-01-01")))
        .groupBy(
            F.col("o_orderpriority").alias("priority"), od.alias("day")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return seasonal_mad_outliers(daily, "day", "n", group_by=("priority",))


# ---------------------------------------------------------------------------
# x96/x97 — the retrieval stack's STORE lifecycle: x25's BM25 over a
# PERSISTED inverted index instead of a per-query corpus re-tokenize.
# x96 builds+persists+reloads+searches; x97 builds the index from the
# even-doc batch and APPENDS the odd-doc batch (tokenizing only the
# batch — df derives at probe time from fetched postings, stats
# deltas merge by sum), then searches the merged store. Both share
# one oracle: the full-corpus integer-BM25 chain (k1=5/4, b=3/4 as
# exact fractions; idf quantized once via round(1e6*ln) and clamped
# at 0 so Spark `div` == DuckDB `//`), so a hash match proves the
# persist/append lifecycle lossless end-to-end.
# ---------------------------------------------------------------------------

_X96_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('hash', 'join', 'window', 'vector')
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x96_bm25_index_search", oracle=_X96_ORACLE)
def x96_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 through the persisted inverted-index lifecycle."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x96", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    return search_bm25_topk(spark, path, _X25_TERMS, k=10)


@register("x97_bm25_index_append", oracle=_X96_ORACLE)
def x97_bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x96's search over an even-doc build + odd-doc append."""
    import shutil

    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_bm25_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(
        d.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    path = _x90_store_path("x97", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, batch_id=0)
    append_search_index(
        d.filter(F.col("doc_id") % 2 == 1), path, batch_id=1,
        text_col="text", id_col="doc_id",
    )
    return search_bm25_topk(spark, path, _X25_TERMS, k=10)


# ---------------------------------------------------------------------------
# x98 — batch-query retrieval (r8 judge item #1): the whole eval set
# scored in ONE plan against the persisted index. search_bm25_topk
# takes one Python tuple per call, so a q-query eval is q Spark jobs
# from a driver loop; search_bm25_topk_batch collects the bounded
# distinct term set (the ivfpq probed-cells pattern) for prefix
# partition pruning + per-term df, then ranks every query off a
# SINGLE pruned postings scan with broadcast (query, term) pairs and
# a per-query WindowGroupLimit top-k. Same exact-integer BM25 chain
# as x96, so the oracle extends that chain with a VALUES query set.
# ---------------------------------------------------------------------------

_X98_QUERIES = (
    (0, ("hash", "join")),
    (1, ("window", "vector")),
    (2, ("hash", "vector", "window")),
)
_X98_PAIRS_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _X98_QUERIES for t in ts
)
_X98_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for _, ts in _X98_QUERIES for t in ts})
)

_X98_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ({_X98_TERMS_SQL})
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id, tf.term,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
q(query_id, term) AS (VALUES {_X98_PAIRS_SQL}),
aggd AS (
    SELECT CAST(q.query_id AS BIGINT) AS query_id, ts.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(ts.term_score) AS BIGINT) AS score_scaled
    FROM ts JOIN q ON ts.term = q.term
    GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score_scaled DESC, doc_id ASC
       ) AS INT) AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id ASC
) <= 5
"""


@register("x98_bm25_batch_search", oracle=_X98_ORACLE)
def x98_bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-query retrieval-eval set in one plan over the x96 store."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x98", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    queries = spark.createDataFrame(
        [(qid, list(ts)) for qid, ts in _X98_QUERIES],
        "query_id long, terms array<string>",
    )
    return search_bm25_topk_batch(queries, path, k=5)


# ---------------------------------------------------------------------------
# x99 — retrieval-quality eval (r8 judge item #3, the x93 pattern
# applied to search): recall@5 of the PERSISTED index's batch search
# vs the brute-force full-corpus BM25 ranking, per query. The two
# arms differ in a real quality knob — the index is built with
# min_token_len=5 (a cheaper index that drops short tokens: smaller
# postings, different dl), the ground truth tokenizes at the default
# 3 — so the recall number genuinely measures what the cheaper
# tokenization costs ('hash'/'join' queries collapse to 0, mixed
# queries land in between), and any tokenizer/prefix/scoring
# regression moves it. Both arms are the exact-integer chain, so the
# oracle re-derives them as two SQL chains and intersects top-5 sets.
# ---------------------------------------------------------------------------

_X99_ORACLE = f"""
WITH q(query_id, term) AS (VALUES {_X98_PAIRS_SQL}),
g_d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
g_docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM g_d
),
g_stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM g_docs
),
g_tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM g_docs)
    WHERE term IN ({_X98_TERMS_SQL})
    GROUP BY 1, 2, 3
),
g_dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM g_tf GROUP BY 1
),
g_ts AS (
    SELECT g_tf.doc_id, g_tf.term,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * g_dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * g_dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * g_tf.tf * s.sum_dl)
           // (16 * g_tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * g_tf.dl * s.n_docs)
               AS term_score
    FROM g_tf JOIN g_dfq USING (term) CROSS JOIN g_stats s
),
g_top AS (
    SELECT CAST(q.query_id AS BIGINT) AS query_id, g_ts.doc_id,
           CAST(SUM(g_ts.term_score) AS BIGINT) AS score_scaled
    FROM g_ts JOIN q ON g_ts.term = q.term
    GROUP BY 1, 2
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY CAST(q.query_id AS BIGINT)
        ORDER BY CAST(SUM(g_ts.term_score) AS BIGINT) DESC, g_ts.doc_id ASC
    ) <= 5
),
i_d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 5) AS toks
    FROM documents
),
i_docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM i_d
),
i_stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM i_docs
),
i_tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM i_docs)
    WHERE term IN ({_X98_TERMS_SQL})
    GROUP BY 1, 2, 3
),
i_dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM i_tf GROUP BY 1
),
i_ts AS (
    SELECT i_tf.doc_id, i_tf.term,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * i_dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * i_dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * i_tf.tf * s.sum_dl)
           // (16 * i_tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * i_tf.dl * s.n_docs)
               AS term_score
    FROM i_tf JOIN i_dfq USING (term) CROSS JOIN i_stats s
),
i_top AS (
    SELECT CAST(q.query_id AS BIGINT) AS query_id, i_ts.doc_id,
           CAST(SUM(i_ts.term_score) AS BIGINT) AS score_scaled
    FROM i_ts JOIN q ON i_ts.term = q.term
    GROUP BY 1, 2
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY CAST(q.query_id AS BIGINT)
        ORDER BY CAST(SUM(i_ts.term_score) AS BIGINT) DESC, i_ts.doc_id ASC
    ) <= 5
),
hits AS (
    SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM i_top i JOIN g_top g
      ON i.query_id = g.query_id AND i.doc_id = g.doc_id
    GROUP BY 1
),
qids AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id FROM q)
SELECT qids.query_id,
       CAST(5 AS BIGINT) AS k,
       CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / 5.0 AS recall
FROM qids LEFT JOIN hits ON qids.query_id = hits.query_id
"""


@register("x99_bm25_recall_eval", oracle=_X99_ORACLE)
def x99_bm25_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the min_token_len=5 persisted index vs full BM25."""
    import shutil

    from docker_etl_spark.operators.search import (
        bm25_topk_batch_from_postings,
        build_postings,
        search_bm25_topk_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    queries = spark.createDataFrame(
        [(qid, list(ts)) for qid, ts in _X98_QUERIES],
        "query_id long, terms array<string>",
    )
    qt = queries.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    # index arm: the cheaper tokenization, through the full store
    # lifecycle (persist -> meta-resolved probe)
    p5, s5 = build_postings(d, "text", "doc_id", min_token_len=5)
    path = _x90_store_path("x99", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(p5, s5, path, min_token_len=5, prefix_len=2)
    idx = search_bm25_topk_batch(queries, path, k=5).select(
        "query_id", "doc_id"
    )
    # ground truth: the default tokenization, ranked in-plan
    p3, s3 = build_postings(d, "text", "doc_id")
    gt = bm25_topk_batch_from_postings(p3, s3, qt, k=5).select(
        "query_id", "doc_id"
    )
    hits = (
        idx.join(gt, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.lit(5.0)
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# cp02 — the FULL curation pipeline as ONE differential-checked plan:
# quality gate -> exact dedup (min id per content digest) -> NEAR-DUP
# dedup (MinHash-LSH pairs, drop every doc that duplicates an
# earlier-id doc — the keep-first-seen production rule) -> token-
# balanced shard packing -> per-shard census. cp01 stops at exact
# dedup; this exercises operator COMPOSITION across the whole
# curation stack (the optimizer sees one plan with windows, a banded
# self-join, an anti-join and the LPT rank). The near-dup stage's
# oracle is the hash-independent exact-Jaccard brute force over the
# SAME surviving subset (x05/x09's separation-property argument: at
# these fixtures banding recall is complete at J >= 0.5 and no pair
# lands near the knee, verified at all three SFs).
# ---------------------------------------------------------------------------

_CP02_ORACLE = """
WITH tok AS (
  SELECT *, string_split(lower(text), ' ') AS w FROM documents
),
feat AS (
  SELECT *, len(w) AS n_words,
         CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w)
             AS mean_len,
         CAST(len(list_filter(w, t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
             / len(w) AS alpha_frac,
         len(list_filter(
             w, t -> t IN ('the','a','of','to','and','in','is','for')))
             AS n_stop
  FROM tok
),
kept AS (
  SELECT doc_id, text FROM feat
  WHERE n_words >= 5 AND n_words <= 100000
    AND mean_len >= 2.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND n_stop >= 1
),
dedup AS (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
dtok AS (SELECT doc_id, string_split(text, ' ') AS w FROM dedup),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM dtok WHERE len(w) >= 3
),
drops AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
survivors AS (
  SELECT d.doc_id,
         CAST(len(list_filter(string_split(lower(d.text), ' '), t -> t <> ''))
              AS BIGINT) AS wt
  FROM dedup d LEFT JOIN drops USING (doc_id)
  WHERE drops.doc_id IS NULL
),
r AS (
  SELECT doc_id, wt,
         ROW_NUMBER() OVER (ORDER BY wt DESC, doc_id) - 1 AS p
  FROM survivors
),
s2 AS (
  SELECT doc_id, wt,
         CASE WHEN (p // 8) % 2 = 0 THEN p % 8 ELSE 7 - (p % 8) END AS shard
  FROM r
)
SELECT CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(wt) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM s2 GROUP BY shard
"""


@register("cp02_full_curation_pipeline", oracle=_CP02_ORACLE)
def cp02_full_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality -> exact dedup -> near-dup drop -> pack -> census."""
    from pyspark.sql import Window

    from docker_etl_spark.operators.corpus import gopher_quality, pack_shards
    from docker_etl_spark.operators.text_dedup import minhash_near_duplicates

    d = load_docs_spread(spark, sf_dir)
    kept = d.filter(gopher_quality("text", min_words=5, min_stopwords=1)["keep"])
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    pairs = minhash_near_duplicates(
        deduped, num_perm=12, bands=3, threshold=0.5, hash_fn="md5"
    )
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = deduped.join(F.broadcast(drops), "doc_id", "left_anti")
    wc = F.size(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit(""))
    )
    weighted = survivors.select("doc_id", wc.cast("long").alias("n_tokens"))
    assigned = pack_shards(weighted, "n_tokens", n_shards=8, id_col="doc_id")
    return assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("weight").cast("long").alias("total_tokens"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# cp03 — cp02's curation pipeline as a STREAM (r8 judge item #7): the
# corpus arrives in 3 micro-batches (doc_id mod 3) through ONE
# foreachBatch sink composing the quality gate, the cumulative
# digest-store exact dedup, and the cumulative signature-store
# near-dup dedup (streaming/core.curation_stream); survivors are then
# packed and censused exactly like cp02. This pins the COMPOSITION of
# the streaming sinks — what a production ingest actually runs — not
# just each sink alone. The oracle replays the STREAM's semantics
# (not cp02's one-shot): three unrolled batch stages where exact
# dedup sees all earlier INGESTED digests, cross-batch near-dup
# comparisons see earlier SURVIVORS' signatures only, and in-batch
# comparisons see all earlier-id batch docs — with the md5 MinHash
# signatures, band buckets and position-match estimator re-derived
# bit-for-bit in SQL (the x45 recipe), so no separation-property
# argument is needed for the batch-boundary corners.
# ---------------------------------------------------------------------------

_CP03_EST = (
    "CAST(len(list_filter(range(1, 13), i -> {a}.g[i] = {b}.g[i]))"
    " AS DOUBLE) / 12.0 >= 0.5"
)

_CP03_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS bt,
         string_split(lower(text), ' ') AS w
  FROM documents
),
feat AS (
  SELECT *, len(w) AS n_words,
         CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w)
             AS mean_len,
         CAST(len(list_filter(w, t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
             / len(w) AS alpha_frac,
         len(list_filter(
             w, t -> t IN ('the','a','of','to','and','in','is','for')))
             AS n_stop
  FROM tok
),
kept AS MATERIALIZED (
  SELECT doc_id, text, bt FROM feat
  WHERE n_words >= 5 AND n_words <= 100000
    AND mean_len >= 2.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND n_stop >= 1
),
e0 AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept WHERE bt = 0
  ) WHERE rn = 1
),
dg0 AS MATERIALIZED (SELECT DISTINCT md5(text) AS dg FROM e0),
e1 AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept WHERE bt = 1 AND md5(text) NOT IN (SELECT dg FROM dg0)
  ) WHERE rn = 1
),
dg1 AS MATERIALIZED (
  SELECT dg FROM dg0 UNION SELECT DISTINCT md5(text) AS dg FROM e1
),
e2 AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept WHERE bt = 2 AND md5(text) NOT IN (SELECT dg FROM dg1)
  ) WHERE rn = 1
),
ex AS MATERIALIZED (
  SELECT 0 AS bt, doc_id, text FROM e0
  UNION ALL SELECT 1 AS bt, doc_id, text FROM e1
  UNION ALL SELECT 2 AS bt, doc_id, text FROM e2
),
sh AS (
  SELECT bt, doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT bt, doc_id, string_split(text, ' ') AS w FROM ex)
  WHERE len(w) >= 3
),
sg AS MATERIALIZED (SELECT bt, doc_id, {_X45_SIG_SQL} AS g FROM sh),
bk AS MATERIALIZED (
  SELECT bt, doc_id, g, u.b,
         md5(g[b*4+1] || '|' || g[b*4+2] || '|' || g[b*4+3] || '|' || g[b*4+4]) AS bkey
  FROM sg, unnest([0, 1, 2]) AS u(b)
),
dup0 AS MATERIALIZED (
  SELECT DISTINCT a.doc_id FROM bk a JOIN bk o
    ON a.bt = 0 AND o.bt = 0 AND a.b = o.b AND a.bkey = o.bkey
   AND a.doc_id > o.doc_id
  WHERE {_CP03_EST.format(a="a", b="o")}
),
f0 AS MATERIALIZED (
  SELECT doc_id, text FROM e0
  WHERE doc_id NOT IN (SELECT doc_id FROM dup0)
),
st1 AS MATERIALIZED (
  SELECT k.* FROM bk k JOIN f0 ON k.doc_id = f0.doc_id AND k.bt = 0
),
dup1 AS MATERIALIZED (
  SELECT DISTINCT a.doc_id FROM bk a JOIN st1 s
    ON a.bt = 1 AND a.b = s.b AND a.bkey = s.bkey
  WHERE {_CP03_EST.format(a="a", b="s")}
  UNION
  SELECT DISTINCT a.doc_id FROM bk a JOIN bk o
    ON a.bt = 1 AND o.bt = 1 AND a.b = o.b AND a.bkey = o.bkey
   AND a.doc_id > o.doc_id
  WHERE {_CP03_EST.format(a="a", b="o")}
),
f1 AS MATERIALIZED (
  SELECT doc_id, text FROM e1
  WHERE doc_id NOT IN (SELECT doc_id FROM dup1)
),
st2 AS MATERIALIZED (
  SELECT * FROM st1
  UNION ALL
  SELECT k.* FROM bk k JOIN f1 ON k.doc_id = f1.doc_id AND k.bt = 1
),
dup2 AS MATERIALIZED (
  SELECT DISTINCT a.doc_id FROM bk a JOIN st2 s
    ON a.bt = 2 AND a.b = s.b AND a.bkey = s.bkey
  WHERE {_CP03_EST.format(a="a", b="s")}
  UNION
  SELECT DISTINCT a.doc_id FROM bk a JOIN bk o
    ON a.bt = 2 AND o.bt = 2 AND a.b = o.b AND a.bkey = o.bkey
   AND a.doc_id > o.doc_id
  WHERE {_CP03_EST.format(a="a", b="o")}
),
f2 AS MATERIALIZED (
  SELECT doc_id, text FROM e2
  WHERE doc_id NOT IN (SELECT doc_id FROM dup2)
),
surv AS (
  SELECT doc_id, text FROM f0
  UNION ALL SELECT doc_id, text FROM f1
  UNION ALL SELECT doc_id, text FROM f2
),
sv AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
              AS BIGINT) AS wt
  FROM surv
),
r AS (
  SELECT doc_id, wt,
         ROW_NUMBER() OVER (ORDER BY wt DESC, doc_id) - 1 AS p
  FROM sv
),
s2 AS (
  SELECT doc_id, wt,
         CASE WHEN (p // 8) % 2 = 0 THEN p % 8 ELSE 7 - (p % 8) END AS shard
  FROM r
)
SELECT CAST(shard AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(wt) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM s2 GROUP BY shard
"""


# ---------------------------------------------------------------------------
# x100 — exact phrase search over a PERSISTED positional index: the
# Lucene positional-postings extension of the x96 store (pos = the
# term's 1-based positions in the raw token stream; min_token_len-
# filtered tokens still consume positions — the position-increment
# convention — so phrases across dropped short words correctly do
# NOT match). Probe = the same term-prefix directory pruning, then
# the classic positional intersection (slot i shifted by −i, folded
# through array_intersect) as pure JVM HOFs; ranking is exact-integer
# phrase frequency. The oracle re-derives positions, the shift, and
# the intersection in SQL.
# ---------------------------------------------------------------------------

_X100_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos)) AS pos FROM posi GROUP BY 1, 2
),
m AS (
  SELECT a.doc_id,
         CAST(len(list_intersect(a.pos,
                                 list_transform(b.pos, x -> x - 1)))
              AS BIGINT) AS phrase_tf
  FROM pl a JOIN pl b ON a.doc_id = b.doc_id
  WHERE a.term = 'window' AND b.term = 'join'
)
SELECT doc_id, phrase_tf,
       CAST(ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC)
            AS INT) AS rank
FROM m WHERE phrase_tf > 0
QUALIFY ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC) <= 10
"""


@register("x100_phrase_search", oracle=_X100_ORACLE)
def x100_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs for the exact phrase "window join" via the
    persisted positional index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_search_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x100", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return phrase_search_topk(spark, path, ("window", "join"), k=10)


# ---------------------------------------------------------------------------
# cp04 — hybrid retrieval over BOTH persisted stores: the production
# RAG shape. x57 fuses in-plan arms; here the lexical arm probes the
# PERSISTED inverted index (term-prefix directory pruning, exact-
# integer BM25 = x96) and the vector arm probes the PERSISTED IVF-PQ
# index (cell directory pruning, sampled-training quantizers = x90),
# and the two bounded top-50 lists fuse by reciprocal rank (x57's
# spec: k=60, top-20, contributions added left-to-right). The oracle
# composes the two existing replay chains — the full sampled-IVF-PQ
# chain through `ranked`, plus the x96 integer-BM25 chain under lx_
# prefixes — and re-derives the fusion, so a hash match pins both
# store lifecycles AND their composition.
# ---------------------------------------------------------------------------

_CP04_SUFFIX = f""",
lx_d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
lx_docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM lx_d
),
lx_stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM lx_docs
),
lx_tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM lx_docs)
    WHERE term IN ('hash', 'join', 'window', 'vector')
    GROUP BY 1, 2, 3
),
lx_dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM lx_tf GROUP BY 1
),
lx_ts AS (
    SELECT lx_tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * lx_dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * lx_dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * lx_tf.tf * s.sum_dl)
           // (16 * lx_tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * lx_tf.dl * s.n_docs)
               AS term_score
    FROM lx_tf JOIN lx_dfq USING (term) CROSS JOIN lx_stats s
),
lx_agg AS (
    SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM lx_ts GROUP BY 1
),
lx_top AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC)
                AS BIGINT) AS lex_rank
    FROM lx_agg
    QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 50
),
v_top AS (
    SELECT neighbor_id AS doc_id, CAST(rank AS BIGINT) AS vec_rank
    FROM ranked WHERE qid = 0 AND rank <= 50
),
fz AS (
    SELECT doc_id, lex_rank, vec_rank,
           COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE) / (60 + vec_rank), CAST(0 AS DOUBLE))
               AS rrf_score
    FROM lx_top FULL JOIN v_top USING (doc_id)
)
SELECT doc_id, lex_rank, vec_rank, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
            AS BIGINT) AS fused_rank
FROM fz
QUALIFY ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) <= 20
"""

_CP04_ORACLE = _ivfpq_chain(_CP04_SUFFIX)


@register("cp04_hybrid_store_retrieval", oracle=_CP04_ORACLE)
def cp04_hybrid_store_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted BM25 probe + persisted IVF-PQ probe -> RRF top-20."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        reciprocal_rank_fusion,
        write_ivfpq_store,
    )

    d = load_docs_spread(spark, sf_dir)

    # The lexical and vector store builds share NOTHING (different
    # inputs, different store paths) but each is a driver-sequential
    # chain of jobs with scheduling gaps; submitting them from two
    # driver threads lets each chain's jobs back-fill the other's
    # idle cores (guide §2.6 overlap — actions are only sequential
    # because the driver calls them sequentially). Results are
    # unchanged: the fused probe consumes both finished stores.
    def _lex():
        lex_path = _x90_store_path("cp04lex", sf_dir)
        shutil.rmtree(lex_path, ignore_errors=True)
        postings, stats = build_postings(d, "text", "doc_id")
        write_search_index(postings, stats, lex_path)
        return search_bm25_topk(spark, lex_path, _X25_TERMS, k=50).select(
            "doc_id", F.col("rank").cast("long").alias("rank")
        )

    def _vec():
        em = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
        )
        index, coarse, books = ivfpq_build(
            em, "dv", "vec_id", dim=64, n_cells=_X23_K,
            coarse_iterations=2, m=2, k=4, pq_iterations=1,
            max_training_points=128,
        )
        vec_path = _x90_store_path("cp04vec", sf_dir)
        shutil.rmtree(vec_path, ignore_errors=True)
        write_ivfpq_store(index, coarse, books, vec_path, id_col="vec_id")
        idx2, coarse2, books2, _meta = load_ivfpq_store(spark, vec_path)
        q0 = em.filter(F.col("vec_id") == 0)
        return ivfpq_topk(
            q0, idx2, coarse2, books2, vec_col="dv", query_id_col="vec_id",
            topk=50, prune_index_partitions=True,
        ).select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("long").alias("rank"),
        )

    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    # INVARIANT for threaded chains: neither chain may mutate
    # session-global conf (e.g. spark.conf.set) — both threads share
    # one SparkSession, so a per-chain conf write would race the
    # other chain's plans. wait(FIRST_EXCEPTION) surfaces a failure
    # in either chain immediately instead of after the other chain
    # fully completes.
    with ThreadPoolExecutor(max_workers=2) as pool:
        lex_f, vec_f = pool.submit(_lex), pool.submit(_vec)
        wait([lex_f, vec_f], return_when=FIRST_EXCEPTION)
        lex, vec = lex_f.result(), vec_f.result()
    return reciprocal_rank_fusion(
        [("lex", lex), ("vec", vec)], id_col="doc_id", rrf_k=60, top_k=20
    )


@register("cp03_streaming_curation", oracle=_CP03_ORACLE)
def cp03_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cp02's pipeline fed by 3 micro-batches through one sink."""
    import shutil

    from docker_etl_spark.operators.corpus import pack_shards
    from docker_etl_spark.streaming import curation_stream

    d = load_docs_spread(spark, sf_dir)
    base = _x90_store_path("cp03", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    # 16 digest directories: the fixture-scale layout (the 100 TB
    # default of 256 is directory-commit-bound on 20k-row batches)
    sink = curation_stream(
        base + "/digests", base + "/sigs", base + "/out",
        digest_prefix_chars=1,
    )
    for k in range(3):
        sink(d.filter(F.col("doc_id") % 3 == k), k)
    surv = spark.read.parquet(base + "/out")
    wc = F.size(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != F.lit(""))
    )
    weighted = surv.select("doc_id", wc.cast("long").alias("n_tokens"))
    assigned = pack_shards(weighted, "n_tokens", n_shards=8, id_col="doc_id")
    return assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("weight").cast("long").alias("total_tokens"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# x101 — unordered proximity (min-span) search over the PERSISTED
# positional index: rank documents by the smallest raw-position
# window covering every query term (MinSpan / Lucene sloppy phrase,
# order-insensitive), keep spans <= len(terms)+slop. The probe is
# x100's shape (term-prefix directory pruning, per-doc position-list
# pivot) and the span search is pure JVM HOFs — candidate (min, max)
# envelopes grown one term at a time. Per-term position lists are
# capped at 128 (the list PREFIX — positions ascend), which the
# oracle replays with a ROW_NUMBER() <= 128 slice.
# ---------------------------------------------------------------------------

_X101_SLOP = 3

_X101_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
capped AS (
  SELECT doc_id, term, pos
  FROM posi
  WHERE term IN ('window', 'join')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, term ORDER BY pos) <= 128
),
spans AS (
  SELECT a.doc_id,
         CAST(MIN(greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1)
              AS BIGINT) AS min_span
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id
  WHERE a.term = 'window' AND b.term = 'join'
  GROUP BY a.doc_id
)
SELECT doc_id, min_span,
       CAST(ROW_NUMBER() OVER (ORDER BY min_span ASC, doc_id ASC) AS INT)
           AS rank
FROM spans WHERE min_span <= 2 + {_X101_SLOP}
QUALIFY ROW_NUMBER() OVER (ORDER BY min_span ASC, doc_id ASC) <= 10
"""


@register("x101_proximity_search", oracle=_X101_ORACLE)
def x101_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs where 'window' and 'join' cluster within slop=3,
    via the persisted positional index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        proximity_search_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x101", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return proximity_search_topk(
        spark, path, ("window", "join"), slop=_X101_SLOP, k=10
    )


# ---------------------------------------------------------------------------
# x102 — PMI collocation mining (Church & Hanks): top adjacent word
# pairs by pointwise mutual information against the independence
# model, marginals counted in pair position so they sum to the
# bigram total exactly. All counts are exact integers off ONE
# compact bigram-count table (one explode pass over the corpus);
# the ratio forms in IEEE doubles (cast before multiply — c*N
# overflows int64 at 100 TB) and quantizes once at 1e6*ln (the
# BM25-idf recipe). min_count=5 drops the rare-pair pathology
# BEFORE the marginal joins; top-20 via orderBy+limit
# (TakeOrderedAndProject — never a global sort of the pair table).
# ---------------------------------------------------------------------------

_X102_MIN_COUNT = 5

_X102_ORACLE = f"""
WITH tok AS (
  SELECT string_split(lower(text), ' ') AS w FROM documents
),
bg AS (
  SELECT u.w1 AS w1, u.w2 AS w2
  FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                  i -> {{'w1': w[i], 'w2': w[i+1]}})) AS u
    FROM tok
  )
),
cp AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM cp GROUP BY 1),
c2 AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_w2 FROM cp GROUP BY 1),
nt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM cp),
scored AS (
  SELECT cp.w1, cp.w2, cp.n_pair,
         CAST(round(ln((CAST(cp.n_pair AS DOUBLE) * CAST(nt.n_total AS DOUBLE))
                       / (CAST(c1.n_w1 AS DOUBLE) * CAST(c2.n_w2 AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS pmi_scaled
  FROM cp JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nt
  WHERE cp.n_pair >= {_X102_MIN_COUNT}
)
SELECT w1, w2, n_pair, pmi_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC)
            AS INT) AS rank
FROM scored
QUALIFY ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC) <= 20
"""


@register("x102_pmi_collocations", oracle=_X102_ORACLE)
def x102_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by quantized PMI (min pair count 5)."""
    from pyspark.sql import Window

    from docker_etl_spark.operators.text_analysis import pmi_collocations

    d = load_docs_spread(spark, sf_dir)
    scored = pmi_collocations(d, min_count=_X102_MIN_COUNT)
    order = [F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2")]
    top = scored.orderBy(*order).limit(20)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# cp05 — PMI-expanded retrieval: query expansion (pseudo-thesaurus
# from x102's collocation table — each base term contributes its
# top-PMI right partner) feeding the PERSISTED BM25 index probe
# (x96's exact-integer chain). The expansion set is bounded
# (|terms| extra strings, one driver round-trip — the probed-cells
# pattern), so the probe stays prefix-directory-pruned. The oracle
# re-derives the PMI partner selection AND the expanded BM25
# ranking, pinning the composition end-to-end.
# ---------------------------------------------------------------------------

_CP05_BASE = ("hash", "join")

_CP05_ORACLE = f"""
WITH tok AS (
  SELECT string_split(lower(text), ' ') AS w FROM documents
),
bg AS (
  SELECT u.w1 AS w1, u.w2 AS w2
  FROM (
    SELECT unnest(list_transform(range(1, len(w)),
                  i -> {{'w1': w[i], 'w2': w[i+1]}})) AS u
    FROM tok
  )
),
cp AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM cp GROUP BY 1),
c2 AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_w2 FROM cp GROUP BY 1),
nt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM cp),
scored AS (
  SELECT cp.w1, cp.w2, cp.n_pair,
         CAST(round(ln((CAST(cp.n_pair AS DOUBLE) * CAST(nt.n_total AS DOUBLE))
                       / (CAST(c1.n_w1 AS DOUBLE) * CAST(c2.n_w2 AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS pmi_scaled
  FROM cp JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nt
  WHERE cp.n_pair >= {_X102_MIN_COUNT}
),
base AS (SELECT unnest(['hash', 'join']) AS term),
partners AS (
  SELECT w2 AS term FROM scored JOIN base ON scored.w1 = base.term
  QUALIFY ROW_NUMBER() OVER (PARTITION BY w1
                             ORDER BY pmi_scaled DESC, w2 ASC) = 1
),
exp_terms AS (
  SELECT term FROM base UNION SELECT term FROM partners
),
d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN (SELECT term FROM exp_terms)
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("cp05_pmi_expanded_retrieval", oracle=_CP05_ORACLE)
def cp05_pmi_expanded_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expand ('hash', 'join') with each term's top-PMI partner, then
    BM25 top-10 through the persisted index."""
    import shutil

    from pyspark.sql import Window

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.operators.text_analysis import pmi_collocations

    d = load_docs_spread(spark, sf_dir)

    # The PMI expansion pass and the index build are independent
    # chains over the same corpus (the probe needs both: expanded
    # terms + a finished store); overlap them from two driver
    # threads so one chain's jobs back-fill the other's scheduling
    # gaps (guide §2.6). Results unchanged.
    def _partners():
        scored = pmi_collocations(d, min_count=_X102_MIN_COUNT)
        w = Window.partitionBy("w1").orderBy(
            F.desc("pmi_scaled"), F.asc("w2")
        )
        return (
            scored.filter(F.col("w1").isin(list(_CP05_BASE)))
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("w2")
            .collect()
        )

    def _store():
        postings, stats = build_postings(d, "text", "doc_id")
        path = _x90_store_path("cp05", sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        write_search_index(postings, stats, path)
        return path

    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    # Same threaded-chain invariant as cp04: no session-global conf
    # mutation inside either chain; fail fast on the first exception.
    with ThreadPoolExecutor(max_workers=2) as pool:
        partners_f, store_f = pool.submit(_partners), pool.submit(_store)
        wait([partners_f, store_f], return_when=FIRST_EXCEPTION)
        partners, path = partners_f.result(), store_f.result()
    expanded = tuple(sorted(set(_CP05_BASE) | {r["w2"] for r in partners}))
    return search_bm25_topk(spark, path, expanded, k=10)


# ---------------------------------------------------------------------------
# x103 — BATCH phrase search: a phrase eval set scored in ONE plan
# against the persisted positional index (the x98 batch-retrieval
# argument applied to positions — per-phrase calls are one Spark job
# each from a driver loop). One bounded driver round-trip collects
# the distinct term set (static __pfx IN partition filter + term IN
# pushed filter); the (query_id, slot, term) triples and phrase
# lengths broadcast; a doc qualifies when every slot matched
# (COUNT(DISTINCT slot) = phrase length — repeats are slots) and
# phrase_tf folds array_intersect over the slot-shifted position
# lists; per-query top-k is WindowGroupLimit. The oracle re-derives
# the whole chain with DuckDB's list_reduce.
# ---------------------------------------------------------------------------

_X103_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos)) AS pos FROM posi GROUP BY 1, 2
),
q AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, slot, term
  FROM (VALUES
    (1, 0, 'window'), (1, 1, 'join'),
    (2, 0, 'hash'),   (2, 1, 'value'),
    (3, 0, 'table'),  (3, 1, 'table'), (3, 2, 'key')
  ) AS v(query_id, slot, term)
),
qlen AS (SELECT query_id, COUNT(*) AS len FROM q GROUP BY 1),
j AS (
  SELECT q.query_id, q.slot, pl.doc_id,
         list_transform(pl.pos, x -> x - q.slot) AS sp
  FROM q JOIN pl USING (term)
),
g AS (
  SELECT query_id, doc_id,
         COUNT(DISTINCT slot) AS ns,
         CAST(len(list_reduce(list(sp), (a, b) -> list_intersect(a, b)))
              AS BIGINT) AS phrase_tf
  FROM j GROUP BY 1, 2
),
m AS (
  SELECT g.query_id, g.doc_id, g.phrase_tf
  FROM g JOIN qlen USING (query_id)
  WHERE g.ns = qlen.len AND g.phrase_tf > 0
)
SELECT query_id, doc_id, phrase_tf,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY phrase_tf DESC, doc_id ASC)
            AS INT) AS rank
FROM m
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY phrase_tf DESC, doc_id ASC) <= 10
"""


@register("x103_phrase_batch_search", oracle=_X103_ORACLE)
def x103_phrase_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three phrases (incl. a repeated-term one) scored in one plan
    over the persisted positional index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_search_topk_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x103", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    queries = spark.createDataFrame(
        [
            (1, ["window", "join"]),
            (2, ["hash", "value"]),
            (3, ["table", "table", "key"]),
        ],
        "query_id long, phrase array<string>",
    )
    return phrase_search_topk_batch(queries, path, k=10)


# ---------------------------------------------------------------------------
# x104 — BATCH proximity search with PER-QUERY slop: a proximity
# eval set (2- and 3-term bags) in ONE plan against the positional
# index. Same probe shape as x103; the min-span cross-product
# envelopes grow inside one F.aggregate fold per (query, doc) —
# arity-generic, unlike the single-query operator's per-column
# reduce. The oracle replays the identical fold with DuckDB's
# list_reduce over struct lists (positions pre-lifted to {mn, mx}
# so the accumulator type is uniform), including the 128-position
# list-prefix cap.
# ---------------------------------------------------------------------------

_X104_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
q AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term, len, slop
  FROM (VALUES
    (1, 'window', 2, 3), (1, 'join',   2, 3),
    (2, 'hash',   3, 2), (2, 'value',  3, 2), (2, 'table', 3, 2),
    (3, 'vector', 2, 0), (3, 'scan',   2, 0)
  ) AS v(query_id, term, len, slop)
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos))[1:128] AS pos
  FROM posi
  WHERE term IN (SELECT term FROM q)
  GROUP BY 1, 2
),
j AS (
  SELECT q.query_id, q.len, q.slop, pl.doc_id, pl.pos
  FROM q JOIN pl USING (term)
),
g AS (
  SELECT query_id, ANY_VALUE(len) AS len, ANY_VALUE(slop) AS slop, doc_id,
         COUNT(*) AS nt,
         CAST(list_min(list_transform(
           list_reduce(
             list_transform(list(pos),
                            pl -> list_transform(pl, x -> {'mn': x, 'mx': x})),
             (acc, pl) -> flatten(list_transform(acc,
                 c -> list_transform(pl, x -> {'mn': least(c.mn, x.mn),
                                               'mx': greatest(c.mx, x.mx)})))),
           c -> c.mx - c.mn + 1)) AS BIGINT) AS min_span
  FROM j GROUP BY query_id, doc_id
),
m AS (
  SELECT query_id, doc_id, min_span
  FROM g WHERE nt = len AND min_span <= len + slop
)
SELECT query_id, doc_id, min_span,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY min_span ASC, doc_id ASC)
            AS INT) AS rank
FROM m
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY min_span ASC, doc_id ASC) <= 10
"""


@register("x104_proximity_batch_search", oracle=_X104_ORACLE)
def x104_proximity_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three proximity queries (mixed arity, per-query slop) in one
    plan over the persisted positional index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        proximity_search_topk_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x104", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    queries = spark.createDataFrame(
        [
            (1, ["window", "join"], 3),
            (2, ["hash", "value", "table"], 2),
            (3, ["vector", "scan"], 0),
        ],
        "query_id long, terms array<string>, slop int",
    )
    return proximity_search_topk_batch(queries, path, slop_col="slop", k=10)


# ---------------------------------------------------------------------------
# x105 — search-index census: the store's health numbers as ONE
# exact-integer row (vocabulary/corpus/postings cardinalities, the
# max-df stopword probe with its term, token mass, live batch
# count). Runs over the x97 lifecycle (build even docs as batch 0,
# append odd docs as batch 1) so the batch accounting is exercised;
# the oracle re-derives every number from the corpus (searchable
# docs = docs with >= 1 indexed token) and pins n_batches to the
# two batches the query wrote.
# ---------------------------------------------------------------------------

_X105_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '),
                     t -> length(t) >= 3) AS toks
  FROM documents
),
docs AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
  FROM d WHERE len(toks) > 0
),
tf AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
),
per_term AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
top_term AS (
  SELECT term AS max_df_term FROM per_term
  ORDER BY df DESC, term ASC LIMIT 1
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM per_term) AS n_terms,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tf) AS n_postings,
  (SELECT CAST(MAX(df) AS BIGINT) FROM per_term) AS max_df,
  (SELECT max_df_term FROM top_term) AS max_df_term,
  (SELECT CAST(SUM(dl) AS BIGINT) FROM docs) AS sum_dl,
  (SELECT CAST(MAX(dl) AS BIGINT) FROM docs) AS max_dl,
  CAST(2 AS BIGINT) AS n_batches
"""


@register("x105_search_index_census", oracle=_X105_ORACLE)
def x105_search_index_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census over a two-batch (build + append) inverted index."""
    import shutil

    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_index_census,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(
        d.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    path = _x90_store_path("x105", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, batch_id=0)
    append_search_index(
        d.filter(F.col("doc_id") % 2 == 1), path, batch_id=1,
        text_col="text", id_col="doc_id",
    )
    return search_index_census(spark, path)


# ---------------------------------------------------------------------------
# x106 — phrase match POSITIONS (the snippet/highlight primitive and
# the bridge into span surgery): x100's probe returning the sorted
# 1-based start position of every occurrence alongside the exact-
# integer phrase frequency. The oracle re-derives the positional
# intersection and sorts the surviving starts.
# ---------------------------------------------------------------------------

_X106_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos)) AS pos FROM posi GROUP BY 1, 2
),
m AS (
  SELECT a.doc_id,
         list_sort(list_intersect(a.pos,
                                  list_transform(b.pos, x -> x - 1)))
             AS match_starts
  FROM pl a JOIN pl b ON a.doc_id = b.doc_id
  WHERE a.term = 'window' AND b.term = 'join'
),
s AS (
  SELECT doc_id, CAST(len(match_starts) AS BIGINT) AS phrase_tf,
         match_starts
  FROM m WHERE len(match_starts) > 0
)
SELECT doc_id, phrase_tf, match_starts,
       CAST(ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC) AS INT)
           AS rank
FROM s
QUALIFY ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC) <= 10
"""


@register("x106_phrase_match_positions", oracle=_X106_ORACLE)
def x106_phrase_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where 'window join' matches: sorted start positions, top-10
    docs by phrase frequency, via the persisted positional index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_match_positions,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x106", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return phrase_match_positions(spark, path, ("window", "join"), k=10)


# ---------------------------------------------------------------------------
# cp06 — index-guided span scrub: phrase occurrences located by the
# PERSISTED positional index (x106's probe, k=None -> every match),
# then cut from the corpus by the span-removal kernel (x54/x55's
# mask) — the "find via index, edit via surgery" composition a
# policy-removal pipeline runs, with no corpus re-scan for the
# phrase text. Output is per-document exact integers + the md5 of
# the scrubbed text, so the oracle pins the edited CONTENT, not
# just counts.
# ---------------------------------------------------------------------------

_CP06_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos)) AS pos FROM posi GROUP BY 1, 2
),
m AS (
  SELECT a.doc_id,
         list_sort(list_intersect(a.pos,
                                  list_transform(b.pos, x -> x - 1)))
             AS starts
  FROM pl a JOIN pl b ON a.doc_id = b.doc_id
  WHERE a.term = 'window' AND b.term = 'join'
),
hits AS (SELECT doc_id, starts FROM m WHERE len(starts) > 0),
j AS (
  SELECT w.doc_id, w.t,
         COALESCE(h.starts, CAST([] AS INT[])) AS starts
  FROM w LEFT JOIN hits h USING (doc_id)
),
kk AS (
  SELECT doc_id, t,
         list_filter(range(1, len(t) + 1),
                     p -> len(list_filter(starts,
                                          s -> p >= s AND p < s + 2)) = 0)
             AS kept
  FROM j
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       md5(array_to_string(list_transform(kept, p -> t[p]), ' '))
           AS clean_md5
FROM kk
"""


@register("cp06_index_guided_scrub", oracle=_CP06_ORACLE)
def cp06_index_guided_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub every 'window join' occurrence, located via the
    persisted positional index, from the whole corpus."""
    import shutil

    from docker_etl_spark.operators.corpus import scrub_spans_at
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_match_positions,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("cp06", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    hits = phrase_match_positions(
        spark, path, ("window", "join"), k=None
    ).select("doc_id", F.explode("match_starts").alias("pos"))
    out = scrub_spans_at(d, hits, span_len=2)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# x107 — prefix (wildcard) search: Lucene's PrefixQuery rewrite
# against the store layout — 'val*' prunes to the 'va' partition
# directory, expands against the fetched dictionary slice WITHOUT a
# driver round-trip (df derives from fetched rows; only a bounded
# count enforces the maxBooleanClauses-style guard), and scores the
# exact-integer BM25 sum over each doc's matched expansions. The
# oracle re-derives the expansion with LIKE and replays the chain.
# ---------------------------------------------------------------------------

_X107_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term LIKE 'val%'
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x107_prefix_search", oracle=_X107_ORACLE)
def x107_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs for the wildcard query 'val*' over the persisted
    index (expands to value/values/... in the fixture vocabulary)."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        prefix_search_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x107", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    return prefix_search_topk(spark, path, "val", k=10)


# ---------------------------------------------------------------------------
# x108 — fuzzy term suggestion ("did you mean"): dictionary-scale
# Levenshtein candidates for a misspelled query term, length-banded
# losslessly (the x85 recipe) before the exact distance filter,
# ranked by document frequency. No prefix pruning BY DESIGN — an
# edit can change the first character (Lucene's FuzzyQuery pays the
# same dictionary walk). The oracle re-derives the dictionary, df
# and distances with DuckDB's levenshtein().
# ---------------------------------------------------------------------------

_X108_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
tf AS (
    SELECT DISTINCT doc_id, term
    FROM (SELECT doc_id, unnest(toks) AS term FROM d)
),
dict AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
cand AS (
    SELECT term, df,
           CAST(levenshtein(term, 'windoq') AS INT) AS dist
    FROM dict
    WHERE length(term) BETWEEN 5 AND 7 AND term <> 'windoq'
)
SELECT term, df, dist,
       CAST(ROW_NUMBER() OVER (ORDER BY df DESC, dist ASC, term ASC) AS INT)
           AS rank
FROM cand
WHERE dist <= 1
QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, dist ASC, term ASC) <= 5
"""


@register("x108_fuzzy_term_suggest", oracle=_X108_ORACLE)
def x108_fuzzy_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell-correct 'windoq' against the index dictionary."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        fuzzy_term_suggest,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x108", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    return fuzzy_term_suggest(spark, path, "windoq", max_dist=1, k=5)


# ---------------------------------------------------------------------------
# x109 — BM25 with the common-terms rewrite (stopword skip): terms
# whose quantized idf is ZERO (df > N/2) are dropped BEFORE their
# corpus-scale postings are fetched, via a bounded dictionary-sidecar
# lookup (r10 judge: the default probe scans, joins and aggregates a
# stopword's postings for a guaranteed-zero contribution). 'hash' and
# 'window' are stopword-grade in this corpus (df ~390/500); 'dup' is
# rare (df 25) and survives. The oracle replays the skip: the lw > 0
# filter moves INTO the term-score chain, so documents matching only
# skipped terms are absent and n_terms counts survivors.
# ---------------------------------------------------------------------------

_X109_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('dup', 'hash', 'window')
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
tsx AS (
    SELECT tf.doc_id, tf.tf, tf.dl, s.n_docs, s.sum_dl,
           GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT)) AS lw
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
ts AS (
    SELECT doc_id,
           (lw * 36 * tf * sum_dl)
           // (16 * tf * sum_dl + 5 * sum_dl + 15 * dl * n_docs)
               AS term_score
    FROM tsx WHERE lw > 0
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x109_bm25_stopword_skip", oracle=_X109_ORACLE)
def x109_bm25_stopword_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 with zero-weight (stopword-grade) query terms
    dropped via the dictionary sidecar before any postings fetch."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x109", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    return search_bm25_topk(
        spark, path, ("dup", "hash", "window"), k=10,
        skip_zero_weight_terms=True,
    )


# ---------------------------------------------------------------------------
# x110 — the term DICTIONARY lifecycle (r10 judge item #1): per-batch
# (term, df, sum_tf, max_tf) deltas land beside the postings, fold by
# SUM/SUM/MAX at compaction, and dictionary-shaped reads (suggest,
# census, expansion guards, stopword skip) aggregate vocab-scale rows
# instead of corpus-scale postings. This query runs the full
# lifecycle — build(evens) -> append(odds) -> compact -> folded read —
# and the oracle re-derives every dictionary row from the corpus, so
# a hash match proves the delta/fold algebra lossless end-to-end.
# ---------------------------------------------------------------------------

_X110_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM d)
    GROUP BY 1, 2
),
dict AS (
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS sum_tf,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM tf GROUP BY 1
)
SELECT term, df, sum_tf, max_tf,
       CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS INT) AS rank
FROM dict
QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) <= 20
"""


@register("x110_search_dictionary", oracle=_X110_ORACLE)
def x110_search_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 dictionary terms by df through build+append+compact."""
    import shutil

    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        compact_search_index,
        read_search_dictionary,
        write_search_index,
    )
    from pyspark.sql import Window

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(
        d.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    )
    path = _x90_store_path("x110", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, batch_id=0)
    append_search_index(
        d.filter(F.col("doc_id") % 2 == 1), path, batch_id=1,
        text_col="text", id_col="doc_id",
    )
    compact_search_index(spark, path, up_to_batch=1)
    dd = read_search_dictionary(spark, path)
    top = dd.orderBy(F.desc("df"), F.asc("term")).limit(20)
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "term", "df", "sum_tf", "max_tf", "rank"
    )


# ---------------------------------------------------------------------------
# cp07 — snippet extraction, the READ twin of cp06: phrase
# occurrences located by the persisted positional index, then ±3
# context tokens pulled AROUND each occurrence (the search-results-
# page highlighter) instead of cut out. One row per occurrence; the
# oracle pins the md5 of every snippet text, so tokenization, the
# position convention and the edge clamping are all content-checked.
# ---------------------------------------------------------------------------

_CP07_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
pl AS (
  SELECT doc_id, term, list_sort(list(pos)) AS pos FROM posi GROUP BY 1, 2
),
m AS (
  SELECT a.doc_id,
         list_sort(list_intersect(a.pos,
                                  list_transform(b.pos, x -> x - 1)))
             AS starts
  FROM pl a JOIN pl b ON a.doc_id = b.doc_id
  WHERE a.term = 'window' AND b.term = 'join'
),
occ AS (
  SELECT doc_id, CAST(unnest(starts) AS INT) AS pos
  FROM m WHERE len(starts) > 0
),
sn AS (
  SELECT occ.doc_id, occ.pos, w.t,
         CAST(GREATEST(1, occ.pos - 3) AS INT) AS snip_start,
         CAST(LEAST(len(w.t), occ.pos + 1 + 3) AS INT) AS snip_end
  FROM occ JOIN w USING (doc_id)
)
SELECT doc_id, pos, snip_start, snip_end,
       md5(array_to_string(t[snip_start:snip_end], ' ')) AS snippet_md5
FROM sn
"""


@register("cp07_snippet_extraction", oracle=_CP07_ORACLE)
def cp07_snippet_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±3-token snippets around every 'window join' occurrence,
    located via the persisted positional index."""
    import shutil

    from docker_etl_spark.operators.corpus import extract_snippets_at
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_match_positions,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("cp07", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    hits = phrase_match_positions(
        spark, path, ("window", "join"), k=None
    ).select("doc_id", F.explode("match_starts").alias("pos"))
    out = extract_snippets_at(d, hits, span_len=2, window=3)
    return out.select(
        "doc_id", "pos", "snip_start", "snip_end",
        F.md5(F.col("snippet")).alias("snippet_md5"),
    )


# ---------------------------------------------------------------------------
# x111 — positional retrieval-quality eval (the x99 pattern on the
# proximity family): the SAME persisted positional store probed with
# a deliberately tight per-term position cap (2) and with the full
# lists, per-query agreement pinned as exact integers — so a
# regression in the position cap, the tokenizer, the sweep kernel or
# the store lifecycle moves a pinned number instead of silently
# degrading ranking quality. Capped spans can only grow (the cap
# keeps the list prefix), so the capped arm's doc set is a subset of
# the full arm's; span_drift sums the growth over surviving docs.
# The oracle replays BOTH arms from the corpus (pair-join min with
# and without a ROW_NUMBER() <= 2 slice).
# ---------------------------------------------------------------------------

_X111_ORACLE = """
WITH q(query_id, t1, t2, slop) AS (
  VALUES (1, 'window', 'join', 3),
         (2, 'hash', 'scan', 2),
         (3, 'batch', 'stream', 4)
),
w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
capped AS (
  SELECT doc_id, term, pos
  FROM posi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, term ORDER BY pos) <= 2
),
full_spans AS (
  SELECT q.query_id, a.doc_id,
         CAST(MIN(greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1)
              AS BIGINT) AS span,
         ANY_VALUE(q.slop) AS slop
  FROM q
  JOIN posi a ON a.term = q.t1
  JOIN posi b ON b.term = q.t2 AND b.doc_id = a.doc_id
  GROUP BY 1, 2
),
capped_spans AS (
  SELECT q.query_id, a.doc_id,
         CAST(MIN(greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1)
              AS BIGINT) AS span,
         ANY_VALUE(q.slop) AS slop
  FROM q
  JOIN capped a ON a.term = q.t1
  JOIN capped b ON b.term = q.t2 AND b.doc_id = a.doc_id
  GROUP BY 1, 2
),
f AS (SELECT query_id, doc_id, span FROM full_spans WHERE span <= 2 + slop),
c AS (SELECT query_id, doc_id, span FROM capped_spans WHERE span <= 2 + slop)
SELECT q.query_id,
       CAST(COALESCE((SELECT COUNT(*) FROM f WHERE f.query_id = q.query_id), 0)
            AS BIGINT) AS n_full,
       CAST(COALESCE((SELECT COUNT(*) FROM c WHERE c.query_id = q.query_id), 0)
            AS BIGINT) AS n_capped,
       CAST(COALESCE((SELECT COUNT(*) FROM c JOIN f
                      ON c.query_id = f.query_id AND c.doc_id = f.doc_id
                      WHERE c.query_id = q.query_id AND c.span = f.span), 0)
            AS BIGINT) AS n_agree,
       CAST(COALESCE((SELECT SUM(c.span - f.span) FROM c JOIN f
                      ON c.query_id = f.query_id AND c.doc_id = f.doc_id
                      WHERE c.query_id = q.query_id), 0)
            AS BIGINT) AS span_drift
FROM q
"""


@register("x111_positional_quality_eval", oracle=_X111_ORACLE)
def x111_positional_quality_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capped-vs-full proximity agreement over one persisted store."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        proximity_search_topk_batch,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x111", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    # both probes read one snapshot of the store
    store = open_store(spark, path)
    queries = spark.createDataFrame(
        [
            (1, ["window", "join"], 3),
            (2, ["hash", "scan"], 2),
            (3, ["batch", "stream"], 4),
        ],
        "query_id long, terms array<string>, slop int",
    )
    kwargs = dict(slop_col="slop", k=100000)
    full = proximity_search_topk_batch(queries, store, **kwargs).select(
        "query_id", "doc_id", F.col("min_span").alias("f_span")
    )
    capped = proximity_search_topk_batch(
        queries, store, max_positions_per_term=2, **kwargs
    ).select("query_id", "doc_id", F.col("min_span").alias("c_span"))
    j = full.join(capped, ["query_id", "doc_id"], "left")
    agg = j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_full"),
        F.count("c_span").cast("long").alias("n_capped"),
        F.sum(
            F.when(F.col("c_span") == F.col("f_span"), 1).otherwise(0)
        ).cast("long").alias("n_agree"),
        F.coalesce(
            F.sum(F.col("c_span") - F.col("f_span")), F.lit(0)
        ).cast("long").alias("span_drift"),
    )
    return queries.select("query_id").join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce("n_full", F.lit(0)).cast("long").alias("n_full"),
        F.coalesce("n_capped", F.lit(0)).cast("long").alias("n_capped"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
        F.coalesce("span_drift", F.lit(0)).cast("long").alias("span_drift"),
    )


# ---------------------------------------------------------------------------
# cp08 — relevance-feedback retrieval (Rocchio-style pseudo-feedback,
# the cp05 shape with FEEDBACK instead of PMI): a seed BM25 probe
# pulls the top-5 documents for a rare query term, each seed doc
# contributes its rank-1 characteristic term (x24's integer tf-idf
# ranking, df computed WITHIN the seed subset), and the expanded term
# set re-queries the SAME persisted index. Every stage is bounded
# driver data (5 ids, <=5 terms — the probed-cells pattern) and both
# probes stay prefix-directory-pruned. The oracle re-derives seed
# ranking, feedback selection and expanded ranking end-to-end.
# ---------------------------------------------------------------------------

_CP08_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
seed_tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term = 'dup'
    GROUP BY 1, 2, 3
),
seed_dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM seed_tf GROUP BY 1
),
seed_ts AS (
    SELECT seed_tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * seed_dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * seed_dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * seed_tf.tf * s.sum_dl)
           // (16 * seed_tf.tf * s.sum_dl + 5 * s.sum_dl
               + 15 * seed_tf.dl * s.n_docs) AS term_score
    FROM seed_tf JOIN seed_dfq USING (term) CROSS JOIN stats s
),
seed_top AS (
    SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM seed_ts GROUP BY 1
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY CAST(SUM(term_score) AS BIGINT) DESC, doc_id ASC) <= 5
),
fb_rows AS (
    SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM docs
          WHERE doc_id IN (SELECT doc_id FROM seed_top)) t
    GROUP BY 1, 2
),
fb_df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM fb_rows GROUP BY 1
),
fb_pick AS (
    SELECT fb_rows.doc_id, fb_rows.term
    FROM fb_rows JOIN fb_df USING (term)
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY fb_rows.doc_id
        ORDER BY fb_rows.tf DESC, fb_df.df ASC, fb_rows.term ASC) = 1
),
exp_terms AS (
    SELECT 'dup' AS term UNION SELECT DISTINCT term FROM fb_pick
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN (SELECT term FROM exp_terms)
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("cp08_relevance_feedback", oracle=_CP08_ORACLE)
def cp08_relevance_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed probe for 'dup' -> rank-1 tf-idf term per seed doc ->
    expanded BM25 top-10 through the same persisted index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.operators.text_analysis import tfidf_top_terms
    from docker_etl_spark.sources.stores import open_store

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("cp08", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    # the seed and the expanded probe read one snapshot of the store
    store = open_store(spark, path)
    seed_ids = [
        r["doc_id"]
        for r in search_bm25_topk(spark, store, ("dup",), k=5).collect()
    ]
    seed_docs = d.filter(F.col("doc_id").isin(seed_ids))
    fb = tfidf_top_terms(seed_docs, text_col="text", id_col="doc_id", k=1)
    fb_terms = {r["term"] for r in fb.collect()}
    expanded = tuple(sorted({"dup"} | fb_terms))
    return search_bm25_topk(spark, store, expanded, k=10)


# ---------------------------------------------------------------------------
# x112 — boolean retrieval (Lucene BooleanQuery): MUST narrows to the
# rare term's documents, MUST_NOT excludes via the same single pruned
# scan (a pure gate — never scores), SHOULD contributes score when
# present. One postings scan for all three roles; the oracle replays
# the gates as EXISTS/NOT-EXISTS over the tf table and the scoring
# chain over must+should rows only.
# ---------------------------------------------------------------------------

_X112_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('dup', 'window', 'merge')
    GROUP BY 1, 2, 3
),
gated AS (
    SELECT doc_id FROM tf WHERE term = 'dup'
    EXCEPT
    SELECT doc_id FROM tf WHERE term = 'merge'
),
stf AS (
    SELECT * FROM tf
    WHERE term IN ('dup', 'window')
      AND doc_id IN (SELECT doc_id FROM gated)
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM tf WHERE term IN ('dup', 'window') GROUP BY 1
),
ts AS (
    SELECT stf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * stf.tf * s.sum_dl)
           // (16 * stf.tf * s.sum_dl + 5 * s.sum_dl + 15 * stf.dl * s.n_docs)
               AS term_score
    FROM stf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x112_boolean_search", oracle=_X112_ORACLE)
def x112_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """must='dup', should='window', must_not='merge' over the
    persisted index — one pruned scan for all three roles."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_boolean_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x112", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    return search_boolean_topk(
        spark, path, must=("dup",), should=("window",),
        must_not=("merge",), k=10,
    )


# ---------------------------------------------------------------------------
# x113 — ORDERED min-window search (in-order SpanNearQuery, the
# "A ... B ... C" pattern): smallest window containing the terms as a
# subsequence IN ORDER, via the linear minimum-window-subsequence
# sweep (never a cross product). The oracle enumerates ordered chains
# with an a.pos < b.pos < c.pos triple join over the 128-capped
# per-term position lists (the x101 cap-replay discipline) and takes
# the per-doc minimum.
# ---------------------------------------------------------------------------

_X113_SLOP = 6

_X113_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
capped AS (
  SELECT doc_id, term, pos
  FROM posi
  WHERE term IN ('hash', 'join', 'scan')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, term ORDER BY pos) <= 128
),
chains AS (
  SELECT a.doc_id,
         CAST(MIN(c.pos - a.pos + 1) AS BIGINT) AS min_window
  FROM capped a
  JOIN capped b ON b.doc_id = a.doc_id AND b.pos > a.pos
  JOIN capped c ON c.doc_id = a.doc_id AND c.pos > b.pos
  WHERE a.term = 'hash' AND b.term = 'join' AND c.term = 'scan'
  GROUP BY 1
)
SELECT doc_id, min_window,
       CAST(ROW_NUMBER() OVER (ORDER BY min_window ASC, doc_id ASC) AS INT)
           AS rank
FROM chains WHERE min_window <= 3 + {_X113_SLOP}
QUALIFY ROW_NUMBER() OVER (ORDER BY min_window ASC, doc_id ASC) <= 10
"""


@register("x113_ordered_window_search", oracle=_X113_ORACLE)
def x113_ordered_window_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs where 'hash' ... 'join' ... 'scan' appear in order
    within a window of 3+6 tokens, via the persisted index."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        ordered_window_search_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x113", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return ordered_window_search_topk(
        spark, path, ("hash", "join", "scan"), slop=_X113_SLOP, k=10
    )


# ---------------------------------------------------------------------------
# x114 — phrase-prefix search (match_phrase_prefix, search-as-you-
# type): the fixed slot matches exactly, the FINAL slot matches any
# indexed term starting with the prefix — expansion positions union
# per document inside the pivot aggregate (no driver round-trip;
# the bounded guard count reads the dictionary sidecar), shift by
# the phrase length and intersect with the fixed fold. The 1-char
# prefix exercises the partition-value startswith pruning branch.
# The oracle counts raw adjacency with LIKE on the completed slot.
# ---------------------------------------------------------------------------

_X114_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
occ AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS phrase_tf
  FROM (
    SELECT doc_id, i
    FROM w, unnest(range(1, len(t))) AS u(i)
    WHERE t[i] = 'big' AND t[i + 1] LIKE 's%' AND length(t[i + 1]) >= 3
  )
  GROUP BY 1
)
SELECT doc_id, phrase_tf,
       CAST(ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC) AS INT)
           AS rank
FROM occ
QUALIFY ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id ASC) <= 10
"""


@register("x114_phrase_prefix_search", oracle=_X114_ORACLE)
def x114_phrase_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by 'big s*' completions via the positional store."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_prefix_search_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x114", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return phrase_prefix_search_topk(spark, path, ("big",), "s", k=10)


# ---------------------------------------------------------------------------
# x115 — BATCH ordered min-window search: an eval set of in-order
# term sequences in ONE plan (the batch-proximity probe shape with
# the ORDERED sweep — collected position lists carry their slot and
# re-order by it before the merge). Queries 1 and 2 are the same
# pair reversed, so the hash pins order sensitivity end-to-end.
# The oracle enumerates ordered chains per query with a pair join
# over the 128-capped position lists.
# ---------------------------------------------------------------------------

_X115_ORACLE = """
WITH q(query_id, t1, t2, slop) AS (
  VALUES (1, 'window', 'join', 4),
         (2, 'join', 'window', 4),
         (3, 'scan', 'batch', 2)
),
w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
capped AS (
  SELECT doc_id, term, pos
  FROM posi
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, term ORDER BY pos) <= 128
),
chains AS (
  SELECT q.query_id, a.doc_id,
         CAST(MIN(b.pos - a.pos + 1) AS BIGINT) AS min_window,
         ANY_VALUE(q.slop) AS slop
  FROM q
  JOIN capped a ON a.term = q.t1
  JOIN capped b ON b.doc_id = a.doc_id AND b.term = q.t2
                AND b.pos > a.pos
  GROUP BY 1, 2
)
SELECT query_id, doc_id, min_window,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY min_window ASC, doc_id ASC) AS INT)
           AS rank
FROM chains WHERE min_window <= 2 + slop
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY min_window ASC, doc_id ASC) <= 10
"""


@register("x115_ordered_window_batch", oracle=_X115_ORACLE)
def x115_ordered_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three in-order pair queries (one reversed) in one plan."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        ordered_window_search_topk_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x115", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    q = spark.createDataFrame(
        [
            (1, ["window", "join"], 4),
            (2, ["join", "window"], 4),
            (3, ["scan", "batch"], 2),
        ],
        "query_id long, terms array<string>, slop int",
    )
    return ordered_window_search_topk_batch(q, path, slop_col="slop", k=10)


# ---------------------------------------------------------------------------
# x116 — BATCH did-you-mean: a query log's misspellings corrected in
# ONE dictionary scan — the lossless length band becomes an EQUI-join
# (each query term explodes to its admissible candidate lengths and
# broadcasts onto the dictionary keyed by length(term)), so no
# nested-loop join forms and Levenshtein runs only on band survivors.
# One query ('qqqqqq') has no candidate within one edit and is absent.
# ---------------------------------------------------------------------------

_X116_ORACLE = """
WITH q(query_id, qterm) AS (
  VALUES (1, 'windoq'), (2, 'jion'), (3, 'scam'), (4, 'qqqqqq')
),
d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
dict AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        GROUP BY 1, 2
    )
    GROUP BY 1
),
cand AS (
    SELECT q.query_id, dict.term, dict.df,
           CAST(levenshtein(dict.term, q.qterm) AS INT) AS dist
    FROM dict JOIN q
      ON length(dict.term) BETWEEN length(q.qterm) - 1
                                AND length(q.qterm) + 1
    WHERE dict.term <> q.qterm
)
SELECT query_id, term, df, dist,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY df DESC, dist ASC, term ASC) AS INT)
           AS rank
FROM cand
WHERE dist <= 1
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY df DESC, dist ASC, term ASC) <= 5
"""


@register("x116_fuzzy_suggest_batch", oracle=_X116_ORACLE)
def x116_fuzzy_suggest_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four misspellings corrected off one dictionary scan."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        fuzzy_term_suggest_batch,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x116", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path)
    q = spark.createDataFrame(
        [(1, "windoq"), (2, "jion"), (3, "scam"), (4, "qqqqqq")],
        "query_id long, term string",
    )
    return fuzzy_term_suggest_batch(q, path, max_dist=1, k=5)


# ---------------------------------------------------------------------------
# x117 — DOCUMENT DELETION lifecycle on the search store (r11 judge
# item #1, the one real lifecycle hole: both persisted stores were
# append-only, so a takedown/PII purge meant rebuilding the index).
# build(evens) -> build(odds) -> tombstone doc_id%10==3 -> probe
# (excluded IMMEDIATELY, scored against the still-stale stats/dict —
# Lucene's deleted-docs-count-until-merge contract) -> compact
# (postings physically dropped, stats+dictionary RE-DERIVED from
# survivors) -> probe again (scores now reflect the shrunken corpus)
# + a census row pinning the shrunken doc count and token mass. The
# oracle replays BOTH visibility regimes exactly: the live phase
# scores surviving docs with all-docs df/stats, the compacted phase
# with survivor-only df/stats.
# ---------------------------------------------------------------------------

_X117_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
surv AS (SELECT * FROM docs WHERE doc_id % 10 <> 3),
stats_all AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
stats_surv AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM surv WHERE len(toks) > 0
),
tf_all AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('dup', 'key')
    GROUP BY 1, 2, 3
),
dfq_all AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf_all GROUP BY 1
),
tf_surv AS (SELECT * FROM tf_all WHERE doc_id % 10 <> 3),
dfq_surv AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf_surv GROUP BY 1
),
live_ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * q.df + 1 AS DOUBLE)
                                  / CAST(2 * q.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf_surv tf JOIN dfq_all q USING (term) CROSS JOIN stats_all s
),
comp_ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * q.df + 1 AS DOUBLE)
                                  / CAST(2 * q.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf_surv tf JOIN dfq_surv q USING (term) CROSS JOIN stats_surv s
),
live_agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled,
           ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC, doc_id ASC)
               AS rnk
    FROM live_ts GROUP BY doc_id
),
comp_agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled,
           ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC, doc_id ASC)
               AS rnk
    FROM comp_ts GROUP BY doc_id
)
SELECT 'live' AS phase, doc_id, n_terms, score_scaled,
       CAST(rnk AS INT) AS rank
FROM live_agg WHERE rnk <= 10
UNION ALL
SELECT 'compacted' AS phase, doc_id, n_terms, score_scaled,
       CAST(rnk AS INT) AS rank
FROM comp_agg WHERE rnk <= 10
UNION ALL
SELECT 'census' AS phase, CAST(-1 AS BIGINT) AS doc_id,
       s.n_docs AS n_terms, s.sum_dl AS score_scaled, CAST(0 AS INT) AS rank
FROM stats_surv s
"""


@register("x117_search_delete_lifecycle", oracle=_X117_ORACLE)
def x117_search_delete_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tombstone -> probe -> compact -> probe + census, one store."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        compact_search_index,
        delete_from_search_index,
        search_bm25_topk,
        search_index_census,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    path = _x90_store_path("x117", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    p0, s0 = build_postings(d.filter(F.col("doc_id") % 2 == 0),
                            "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    p1, s1 = build_postings(d.filter(F.col("doc_id") % 2 == 1),
                            "text", "doc_id")
    write_search_index(p1, s1, path, batch_id=1)
    delete_from_search_index(
        spark, path,
        d.filter(F.col("doc_id") % 10 == 3).select("doc_id"),
        batch_id=2,
    )
    # pre-compaction probe, pinned BEFORE the store swap (the probe
    # plan lazily reads the directory compaction rewrites)
    pre = (
        search_bm25_topk(spark, path, ("dup", "key"), k=10)
        .withColumn("phase", F.lit("live"))
        .localCheckpoint()
    )
    compact_search_index(spark, path, up_to_batch=2)
    post = search_bm25_topk(spark, path, ("dup", "key"), k=10).withColumn(
        "phase", F.lit("compacted")
    )
    cols = ["phase", "doc_id", "n_terms", "score_scaled", "rank"]
    cen = search_index_census(spark, path).select(
        F.lit("census").alias("phase"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.col("n_docs").alias("n_terms"),
        F.col("sum_dl").alias("score_scaled"),
        F.lit(0).cast("int").alias("rank"),
    )
    return (
        pre.select(*cols)
        .unionByName(post.select(*cols))
        .unionByName(cen.select(*cols))
    )


# ---------------------------------------------------------------------------
# x118 — DOCUMENT DELETION lifecycle on the IVF-PQ store (FAISS
# remove_ids): build -> tombstone vec_id%7==2 -> probe (tombstone
# anti-join) -> compact (codes physically dropped, sidecar cleared)
# -> probe again. The two probe phases must be IDENTICAL rows — the
# anti-join and the physical drop are two mechanisms for one
# contract — and the census row pins the shrunken code count. The
# oracle replays the shared IVF-PQ chain (quantizers trained on the
# FULL corpus — deletion does not retrain, FAISS's contract) with
# the candidate set filtered to live ids.
# ---------------------------------------------------------------------------

_X118_ORACLE = _ivfpq_chain(
    """
, live AS (
  SELECT qid, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY adc_dist ASC, neighbor_id ASC
         ) AS rnk
  FROM cand
  WHERE neighbor_id % 7 <> 2
),
probe AS (
  SELECT qid AS query_id, CAST(rnk AS INT) AS rank, neighbor_id,
         adc_dist
  FROM live WHERE rnk <= 3
)
SELECT 'live' AS phase, query_id, rank, neighbor_id, adc_dist FROM probe
UNION ALL
SELECT 'compacted' AS phase, query_id, rank, neighbor_id, adc_dist
FROM probe
UNION ALL
SELECT 'census' AS phase, CAST(-1 AS BIGINT) AS query_id,
       CAST(0 AS INT) AS rank,
       CAST((SELECT COUNT(*) FROM vq WHERE id % 7 <> 2) AS BIGINT)
           AS neighbor_id,
       CAST(0 AS BIGINT) AS adc_dist
"""
)


@register("x118_ivfpq_delete_lifecycle", oracle=_X118_ORACLE)
def x118_ivfpq_delete_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tombstone -> probe -> compact -> probe on the vector store."""
    import shutil

    from docker_etl_spark.operators.similarity import (
        compact_ivfpq_store,
        delete_from_ivfpq_store,
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        write_ivfpq_store,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("dv"),
    )
    index, coarse, books = ivfpq_build(
        em, "dv", "vec_id", dim=64, n_cells=_X23_K, coarse_iterations=2,
        m=2, k=4, pq_iterations=1, max_training_points=128,
    )
    path = _x90_store_path("x118", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_ivfpq_store(index, coarse, books, path, batch_id=0,
                      id_col="vec_id")
    delete_from_ivfpq_store(
        spark, path, em.filter(F.col("vec_id") % 7 == 2).select("vec_id"),
        batch_id=1,
    )
    queries = em.filter(F.col("vec_id") < 3)

    def probe(phase: str) -> DataFrame:
        idx, c, b, _m = load_ivfpq_store(spark, path)
        return ivfpq_topk(
            queries, idx, c, b, vec_col="dv", query_id_col="vec_id",
            topk=3, prune_index_partitions=True,
        ).select(
            F.lit(phase).alias("phase"),
            F.col("vec_id").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("adc_dist").cast("long").alias("adc_dist"),
        )

    pre = probe("live").localCheckpoint()
    compact_ivfpq_store(spark, path, up_to_batch=1)
    post = probe("compacted")
    # the census count comes from parquet FOOTER metadata (the
    # engine's parquet_row_count discipline — no scheduled scan job
    # for a number the footers already hold); Spark count fallback
    # for non-local stores
    from docker_etl_spark.sources.stores import open_store, parquet_row_count

    ncodes = parquet_row_count(path + "/codes")
    if ncodes is None:
        ncodes = open_store(spark, path).read("codes").count()
    cen = spark.createDataFrame(
        [("census", -1, 0, int(ncodes), 0)],
        "phase string, query_id long, rank int, neighbor_id long, "
        "adc_dist long",
    )
    return pre.unionByName(post).unionByName(cen)


# ---------------------------------------------------------------------------
# x119 — MaxScore top-k pruning (r11 judge item #2): the dictionary's
# stored max_tf (unconsumed until r12) bounds every term's possible
# score contribution, so the probe scores the rare term's postings
# first and fetches the common term's rows ONLY for those candidate
# documents — the corpus-scale (doc, term) aggregate over a common
# term's postings never forms. The ORACLE IS THE EXHAUSTIVE PROBE
# (x96's SQL shape): pruning is an execution strategy, bit-identical
# by construction, and the hash match proves it.
# ---------------------------------------------------------------------------

_X119_ORACLE = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ('dup', 'batch')
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
aggd AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(term_score) AS BIGINT) AS score_scaled
    FROM ts GROUP BY 1
)
SELECT doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS INT)
           AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x119_maxscore_pruned_topk", oracle=_X119_ORACLE)
def x119_maxscore_pruned_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MaxScore-pruned rare+common probe; oracle = exhaustive BM25."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk_pruned,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x119", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, batch_id=0)
    return search_bm25_topk_pruned(spark, path, ("dup", "batch"), k=10)


# ---------------------------------------------------------------------------
# cp09 — term-hit snippets for BM25 results (r11 judge item #5;
# cp07's twin for non-phrase queries — what a search-results page
# actually renders): BM25 top-10 from the store, then a ±3-token
# snippet around the FIRST occurrence of each matched query term,
# located by the positional index (hit location is occurrence-scale,
# bounded by k x |terms| — never a text re-scan). The oracle replays
# ranking, first-occurrence choice, edge clamping and the snippet
# text (md5-pinned, the cp07 discipline).
# ---------------------------------------------------------------------------

_CP09_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
d AS (
  SELECT doc_id, list_filter(t, x -> length(x) >= 3) AS toks FROM w
),
docs AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM docs
),
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
  WHERE term IN ('dup', 'vector')
  GROUP BY 1, 2, 3
),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
  SELECT tf.doc_id,
         (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                / CAST(2 * dfq.df + 1 AS DOUBLE))
                             * 1000000.0) AS BIGINT),
                   CAST(0 AS BIGINT))
          * 36 * tf.tf * s.sum_dl)
         // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
             AS term_score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
top AS (
  SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_scaled,
         CAST(ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC,
                                 doc_id ASC) AS INT) AS rank
  FROM ts GROUP BY doc_id
  QUALIFY ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC,
                             doc_id ASC) <= 10
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
hits AS (
  SELECT p.doc_id, p.term, CAST(MIN(p.pos) AS INT) AS pos
  FROM posi p JOIN top USING (doc_id)
  WHERE p.term IN ('dup', 'vector')
  GROUP BY 1, 2
),
sn AS (
  SELECT h.doc_id, h.term, h.pos, top.rank, top.score_scaled, w.t,
         CAST(GREATEST(1, h.pos - 3) AS INT) AS snip_start,
         CAST(LEAST(len(w.t), h.pos + 3) AS INT) AS snip_end
  FROM hits h JOIN w USING (doc_id) JOIN top USING (doc_id)
)
SELECT doc_id, rank, score_scaled, term, pos, snip_start, snip_end,
       md5(array_to_string(t[snip_start:snip_end], ' ')) AS snippet_md5
FROM sn
"""


@register("cp09_bm25_term_snippets", oracle=_CP09_ORACLE)
def cp09_bm25_term_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 + index-located first-hit snippets per term."""
    import shutil

    from docker_etl_spark.operators.search import (
        bm25_term_snippets,
        build_positional_postings,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("cp09", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    out = bm25_term_snippets(
        d, path, ("dup", "vector"), k=10, window=3
    )
    return out.select(
        "doc_id", "rank", "score_scaled", "term", "pos",
        "snip_start", "snip_end",
        F.md5(F.col("snippet")).alias("snippet_md5"),
    )


# ---------------------------------------------------------------------------
# x120 — proximity-boosted BM25 ranking (r11 judge item #6, Lucene's
# sloppy-phrase scoring): one pruned positional scan feeds BOTH the
# exact-integer BM25 chain (positions carried alongside the term
# scores) and the linear MinSpan sweep; documents containing every
# query term earn boost = 1e6 div (min_span − n + 1). On this corpus
# both terms are stopword-grade (idf quantizes to 0), so ranking is
# driven ENTIRELY by proximity — exactly the case plain BM25 cannot
# separate. The oracle replays the pair-join min span and the
# integer boost.
# ---------------------------------------------------------------------------

_X120_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
d AS (
  SELECT doc_id, list_filter(t, x -> length(x) >= 3) AS toks FROM w
),
docs AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM docs
),
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
  WHERE term IN ('hash', 'scan')
  GROUP BY 1, 2, 3
),
dfq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
  SELECT tf.doc_id,
         (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                / CAST(2 * dfq.df + 1 AS DOUBLE))
                             * 1000000.0) AS BIGINT),
                   CAST(0 AS BIGINT))
          * 36 * tf.tf * s.sum_dl)
         // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
             AS term_score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
bm AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(term_score) AS BIGINT) AS bm25_scaled
  FROM ts GROUP BY 1
),
posi AS (
  SELECT doc_id, t[i] AS term, CAST(i AS INT) AS pos
  FROM w, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE length(t[i]) >= 3
),
spans AS (
  SELECT a.doc_id,
         CAST(MIN(greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1)
              AS BIGINT) AS span
  FROM posi a
  JOIN posi b ON b.doc_id = a.doc_id AND b.term = 'scan'
  WHERE a.term = 'hash'
  GROUP BY 1
),
scored AS (
  SELECT bm.doc_id, bm.n_terms, bm.bm25_scaled,
         CAST(COALESCE(1000000 // (sp.span - 1), 0) AS BIGINT)
             AS boost_scaled
  FROM bm LEFT JOIN spans sp USING (doc_id)
),
fin AS (
  SELECT doc_id, n_terms, bm25_scaled, boost_scaled,
         CAST(bm25_scaled + boost_scaled AS BIGINT) AS score_scaled
  FROM scored
)
SELECT doc_id, n_terms, bm25_scaled, boost_scaled, score_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC)
            AS INT) AS rank
FROM fin
QUALIFY ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id ASC) <= 10
"""


@register("x120_bm25_proximity_boost", oracle=_X120_ORACLE)
def x120_bm25_proximity_boost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BM25 + min-span boost from ONE pruned positional scan."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        search_bm25_proximity_topk,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_positional_postings(d, "text", "doc_id")
    path = _x90_store_path("x120", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, positional=True)
    return search_bm25_proximity_topk(
        spark, path, ("hash", "scan"), k=10, boost_scale=1_000_000
    )


# ---------------------------------------------------------------------------
# x121 — takedown across the dedup ledger (r12): a purge that
# tombstones the search/vector stores but leaves the DIGEST ledger
# behind keeps rejecting re-licensed re-ingests of the same content
# as "duplicate of deleted content" forever. Build the ledger from
# two-thirds of the corpus, purge a slice of digests (a targeted
# prefix-partition rewrite — only the delete list's directories are
# touched), then redeliver the FULL corpus through the incremental
# gate: survivors are exactly the never-stored contents plus the
# purged ones. The oracle replays md5 identity, the intra-batch
# min-id survivor rule and the set algebra.
# ---------------------------------------------------------------------------

_X121_ORACLE = """
WITH d AS (
    SELECT doc_id, md5(text) AS content_md5 FROM documents
),
batch_unique AS (
    SELECT content_md5, MIN(doc_id) AS doc_id FROM d GROUP BY 1
),
stored AS (
    SELECT DISTINCT content_md5 FROM d WHERE doc_id % 3 <> 0
),
purged AS (
    SELECT DISTINCT content_md5 FROM d WHERE doc_id % 6 = 1
),
live_store AS (
    SELECT content_md5 FROM stored
    EXCEPT
    SELECT content_md5 FROM purged
)
SELECT b.doc_id, b.content_md5
FROM batch_unique b
LEFT JOIN live_store s USING (content_md5)
WHERE s.content_md5 IS NULL
"""


@register("x121_digest_purge_reopen", oracle=_X121_ORACLE)
def x121_digest_purge_reopen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-ledger purge reopens ingest for the purged content."""
    import shutil

    from docker_etl_spark.operators.dedupe import (
        delete_from_digest_store,
        incremental_content_dedup,
        load_digest_store,
        write_digest_store,
    )

    d = load_docs_spread(spark, sf_dir)
    digests = d.select(
        "doc_id", F.md5(F.col("text")).alias("content_md5")
    )
    path = _x90_store_path("x121", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_digest_store(
        digests.filter(F.col("doc_id") % 3 != 0)
        .select("content_md5")
        .distinct(),
        path,
    )
    delete_from_digest_store(
        spark,
        path,
        digests.filter(F.col("doc_id") % 6 == 1)
        .select("content_md5")
        .distinct(),
    )
    survivors = incremental_content_dedup(
        d, load_digest_store(spark, path)
    )
    return survivors.select("doc_id", "content_md5")


# ---------------------------------------------------------------------------
# x122 — batch MaxScore retrieval (the r12 single-probe pruning,
# batched for the nightly eval-set shape): each query independently
# splits essential/non-essential off the dictionary ceilings; one
# shared pruned scan scores all essential terms, per-query θ comes
# back in one bounded collect, and common-term rows enter the
# scoring aggregate semi-joined to candidates of queries whose
# θ strictly beats their ceiling sum — queries without a split or a
# proven bound stay exact from the same two scans (r14: the separate
# exhaustive subset chain is gone). Bit-identical, so the oracle is the
# exhaustive batch SQL (x98's shape) — the hash match proves the
# two-phase split, the validity check and the fallback routing all
# preserve exact ranking.
# ---------------------------------------------------------------------------

_X122_PAIRS = [
    (1, ("dup", "batch")),
    (2, ("dup", "key", "scan")),
    (3, ("batch", "scan")),
    (4, ("dup",)),
]
_X122_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for _q, ts in _X122_PAIRS for t in ts})
)
_X122_PAIRS_SQL = ", ".join(
    f"({q}, '{t}')" for q, ts in _X122_PAIRS for t in ts
)

_X122_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '),
                       t -> length(t) >= 3) AS toks
    FROM documents
),
docs AS (
    SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS sum_dl
    FROM docs
),
tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
    WHERE term IN ({_X122_TERMS_SQL})
    GROUP BY 1, 2, 3
),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ts AS (
    SELECT tf.doc_id, tf.term,
           (GREATEST(CAST(round(ln(CAST(2 * s.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                                  / CAST(2 * dfq.df + 1 AS DOUBLE))
                               * 1000000.0) AS BIGINT),
                     CAST(0 AS BIGINT))
            * 36 * tf.tf * s.sum_dl)
           // (16 * tf.tf * s.sum_dl + 5 * s.sum_dl + 15 * tf.dl * s.n_docs)
               AS term_score
    FROM tf JOIN dfq USING (term) CROSS JOIN stats s
),
q(query_id, term) AS (VALUES {_X122_PAIRS_SQL}),
aggd AS (
    SELECT CAST(q.query_id AS BIGINT) AS query_id, ts.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(ts.term_score) AS BIGINT) AS score_scaled
    FROM ts JOIN q ON ts.term = q.term
    GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms, score_scaled,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score_scaled DESC, doc_id ASC
       ) AS INT) AS rank
FROM aggd
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id ASC
) <= 5
"""


@register("x122_maxscore_batch", oracle=_X122_ORACLE)
def x122_maxscore_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query MaxScore splits over one shared essential scan."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk_batch_pruned,
        write_search_index,
    )

    d = load_docs_spread(spark, sf_dir)
    postings, stats = build_postings(d, "text", "doc_id")
    path = _x90_store_path("x122", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    write_search_index(postings, stats, path, batch_id=0)
    q = spark.createDataFrame(
        [(qid, list(ts)) for qid, ts in _X122_PAIRS],
        "query_id long, terms array<string>",
    )
    return search_bm25_topk_batch_pruned(q, path, k=5)
