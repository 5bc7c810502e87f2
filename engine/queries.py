"""Driver-gate queries: each SURVEY.md §2 operator family expressed
over the driver's parquet tables, with a DuckDB-ANSI-SQL oracle.

The transcript pipeline itself is verified by the pytest oracle
(tests/test_pipeline_parity.py); these queries additionally prove each
operator on the generic tables the driver can cross-check with DuckDB
(events ≈ transcripts: entity=user_id, order=(ts, event_id)).

Conventions for oracle hash-parity:
- session timezone pinned to UTC inside every callable;
- every float output rounded (6 dp; 2 dp for large sums) IN BOTH
  engines so independent summation orders hash identically;
- every ranking fully tie-broken; no raw timestamps in outputs
  (epoch seconds instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.operators import core
from engine.operators.asof import asof_join
from engine.operators.topk import top_tools_final  # noqa: F401 (re-export)
from engine.schema import TOP_K_TOOLS

SESSION_GAP_S = 1800
ROLL_S = 300


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational core (scans, aggs, joins, top-k) — SURVEY §2.1/2.4/2.6/2.9
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped hash aggregation (A3-A6 partial+final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       ROUND(AVG(l_quantity), 6)                            AS avg_qty,
       ROUND(AVG(l_discount), 6)                            AS avg_disc,
       COUNT(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """Broadcast dim join + agg + deterministic top-k (§2.9, W6/T3)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(10)


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, n_name, ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Point-in-time family over events (entity=user_id) — SURVEY §2.5 + north_rule
# ---------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    """ts-gap sessionization (W4): 0-based session per user + seq."""
    ev = _t(spark, sf_dir, "events")
    out = core.sessionize(ev, "user_id", "ts", "event_id", SESSION_GAP_S)
    return out.select("user_id", "event_id", "session_id", "sess_seq")


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1e6 > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT) AS session_id
  FROM g
)
SELECT user_id, event_id, session_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_id
            ORDER BY ts, event_id) AS INT) AS sess_seq
FROM s
"""


def q_lag_lead(spark, sf_dir):
    """lag/lead + inter-event gap (mandated lag/lead family)."""
    ev = _t(spark, sf_dir, "events")
    w = core.entity_window("user_id", "ts", "event_id")
    sec = core.ts_seconds("ts")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.lag("value").over(w), 6).alias("lag_value"),
        F.round(F.lead("value").over(w), 6).alias("lead_value"),
        F.round(sec - F.lag(sec).over(w), 6).alias("gap_prev_s"),
    )


SQL_LAG_LEAD = """
SELECT user_id, event_id,
       ROUND(LAG(value)  OVER w, 6) AS lag_value,
       ROUND(LEAD(value) OVER w, 6) AS lead_value,
       ROUND((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1e6, 6) AS gap_prev_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_ffill(spark, sf_dir):
    """Backfill/ffill pair: latest purchase value at or before each
    event (ffill, leakage-free feature) and earliest purchase value at
    or after it (bfill, imputation/label direction). Both fills share
    the one (user)×(ts, event_id) sort."""
    ev = _t(spark, sf_dir, "events")
    purchase = "CASE WHEN event_type = 'purchase' THEN value END"
    out = core.ffill(ev, "user_id", "ts", "event_id", purchase, "last_purchase_value")
    out = core.bfill(out, "user_id", "ts", "event_id", purchase, "next_purchase_value")
    return out.select(
        "user_id",
        "event_id",
        F.round("last_purchase_value", 6).alias("last_purchase_value"),
        F.round("next_purchase_value", 6).alias("next_purchase_value"),
    )


SQL_FFILL = """
SELECT user_id, event_id,
       ROUND(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS last_purchase_value,
       ROUND(FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 6)
         AS next_purchase_value
FROM events
"""


def q_rolling(spark, sf_dir):
    """Event-time rolling frame [ts-300 s, ts] per user (range frame)."""
    ev = _t(spark, sf_dir, "events")
    out = core.rolling_range(
        ev,
        "user_id",
        "ts",
        ROLL_S,
        {"roll_cnt": "count(1)", "_avg": "avg(value)"},
    )
    return out.select(
        "user_id",
        "event_id",
        "roll_cnt",
        F.round("_avg", 6).alias("roll_avg_value"),
        # P8 neighborhood-relative value: this row vs its own trailing
        # window's mean (reference analog: pixel vs neighborhood mean,
        # SURVEY §2.2 P8) — same window, no extra sort or shuffle
        F.round(F.col("value") - F.col("_avg"), 6).alias("rel_value_roll"),
    )


SQL_ROLLING = f"""
SELECT user_id, event_id,
       COUNT(*) OVER w            AS roll_cnt,
       ROUND(AVG(value) OVER w, 6) AS roll_avg_value,
       ROUND(value - AVG(value) OVER w, 6) AS rel_value_roll
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL {ROLL_S} SECONDS PRECEDING AND CURRENT ROW)
"""


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values per type (the
    data-profiling aggregation a training pipeline runs before choosing
    normalization): bucket = floor(value / 25), counts + bucket bounds.
    One hash aggregation, map-side combined — profile-at-100TB shape."""
    ev = _t(spark, sf_dir, "events")
    b = F.floor(F.col("value") / F.lit(25.0)).cast("long")
    return (
        ev.groupBy("event_type", b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25.0).alias("lo"),
            ((F.col("bucket") + 1) * 25.0).alias("hi"),
            "n",
        )
    )


SQL_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
       CAST(FLOOR(value / 25.0) AS BIGINT) * 25.0 AS lo,
       (CAST(FLOOR(value / 25.0) AS BIGINT) + 1) * 25.0 AS hi,
       COUNT(*) AS n
FROM events
GROUP BY event_type, CAST(FLOOR(value / 25.0) AS BIGINT)
"""


# Shared oracle CTEs — ONE definition of gap sessionization per form
# (round-3 review: six copy-pasted variants risked silent divergence
# from core.sessionize on any future semantics change). sec-form keeps
# a float `sec` per row for step/interval math; g-form keeps raw
# epoch_us arithmetic and carries event_type.
_SESSIONIZED_SEC_CTE = """WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) / 1000000.0 AS sec,
         LAG(epoch_us(ts) / 1000000.0) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
  FROM events
), b AS (
  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800.0
                 THEN 1 ELSE 0 END AS brk
  FROM o
), s AS (
  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
            AS INT) AS session_id
  FROM b
)"""

_SESSIONIZED_GS_CTE = f"""WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1e6 > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT) AS session_id
  FROM g
)"""


def q_session_funnel(spark, sf_dir):
    """Composite analytics: gap-sessionize events per user (W4), then a
    per-session view->purchase conversion funnel — sessions counted as
    converted iff a purchase follows a view INSIDE the session (F +
    A families composed over the same one-shuffle layout)."""
    ev = _t(spark, sf_dir, "events")
    s = core.sessionize(ev, "user_id", "ts", "event_id", 1800.0, seq_col=None)
    w = (
        F.min(F.when(F.col("event_type") == "view", core.ts_seconds("ts")))
    )
    p = (
        F.max(F.when(F.col("event_type") == "purchase", core.ts_seconds("ts")))
    )
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        w.alias("_first_view"),
        p.alias("_last_purchase"),
    )
    conv = (
        F.col("_first_view").isNotNull()
        & F.col("_last_purchase").isNotNull()
        & (F.col("_last_purchase") >= F.col("_first_view"))
    )
    return per_sess.groupBy().agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(conv.cast("long")).alias("n_converted"),
        F.round(F.avg(conv.cast("double")), 6).alias("conversion_rate"),
    )


SQL_SESSION_FUNNEL = f"""
{_SESSIONIZED_SEC_CTE}, per_sess AS (
  SELECT user_id, session_id,
         MIN(CASE WHEN event_type = 'view' THEN sec END) AS first_view,
         MAX(CASE WHEN event_type = 'purchase' THEN sec END) AS last_purchase
  FROM s GROUP BY user_id, session_id
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
                 AND last_purchase >= first_view THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted,
       ROUND(AVG(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
                 AND last_purchase >= first_view THEN 1.0 ELSE 0.0 END), 6)
         AS conversion_rate
FROM per_sess
"""


def q_funnel_steps(spark, sf_dir):
    """Ordered MULTI-STEP funnel over the same one-shuffle sessionized
    layout as q_session_funnel: view → click → purchase with STRICT
    event-time ordering inside the session. Step k only counts if it
    happens strictly after the (earliest qualifying) step k-1:
    t1 = first view, t2 = first click with sec > t1, t3 = first
    purchase with sec > t2.

    Shape: sessionize (one shuffle on user_id) → per-session hash agg
    collecting only three tiny per-type second-lists → step times via
    array HOFs (filter + array_min, all codegen) → global roll-up.
    Sessions are gap-bounded so the collected lists are small; nothing
    re-scans events per step.

    At sf0.01 the full-funnel count is legitimately 0 (sessions are
    sparse); tests/test_funnel.py proves each step's strict-ordering
    semantics on planted sessions."""
    return funnel_steps(_t(spark, sf_dir, "events"))


def funnel_session_steps(ev):
    """Per-session funnel step times/flags (the batch twin of
    engine.streaming.stream_funnel_steps): one row per (user_id,
    session_id) with n_events, t1/t2/t3 step times and step flags.
    Takes the events DataFrame directly so planted fixtures and the
    streaming parity test can drive it."""
    s = core.sessionize(ev, "user_id", "ts", "event_id", 1800.0, seq_col=None)
    sec = core.ts_seconds("ts")
    per = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("event_type") == "view", sec)).alias("t1"),
        F.collect_list(F.when(F.col("event_type") == "click", sec)).alias("_cl"),
        F.collect_list(F.when(F.col("event_type") == "purchase", sec)).alias("_pu"),
    )
    return (
        per.withColumn(
            "t2", F.array_min(F.filter("_cl", lambda c: c > F.col("t1")))
        )
        .withColumn("t3", F.array_min(F.filter("_pu", lambda p: p > F.col("t2"))))
        .withColumn("step_view", F.col("t1").isNotNull())
        .withColumn("step_view_click", F.col("t2").isNotNull())
        .withColumn("step_full", F.col("t3").isNotNull())
        .drop("_cl", "_pu")
    )


def funnel_steps(ev):
    """Global roll-up of funnel_session_steps — see q_funnel_steps."""
    per = funnel_session_steps(ev)
    return per.groupBy().agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_view_click_purchase"),
        F.round(F.avg(F.col("t3").isNotNull().cast("double")), 6).alias(
            "full_funnel_rate"
        ),
    )


SQL_FUNNEL_STEPS = f"""
{_SESSIONIZED_SEC_CTE}, s1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN sec END)
              OVER (PARTITION BY user_id, session_id) AS t1
  FROM s
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND sec > t1 THEN sec END)
              OVER (PARTITION BY user_id, session_id) AS t2
  FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND sec > t2 THEN sec END)
              OVER (PARTITION BY user_id, session_id) AS t3
  FROM s2
), per_sess AS (
  SELECT DISTINCT user_id, session_id, t1, t2, t3 FROM s3
)
SELECT COUNT(*) AS n_sessions,
       CAST(COUNT(t1) AS BIGINT) AS n_view,
       CAST(COUNT(t2) AS BIGINT) AS n_view_click,
       CAST(COUNT(t3) AS BIGINT) AS n_view_click_purchase,
       ROUND(AVG(CASE WHEN t3 IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
         AS full_funnel_rate
FROM per_sess
"""


def q_range_join_sessions(spark, sf_dir):
    """Interval (range) join via bucket blocking: each error event →
    the per-user session interval [first_ts, last_ts] containing it.
    Spark plans a raw point-in-interval theta join as
    BroadcastNestedLoopJoin / per-key-quadratic SMJ filter; the
    operator (engine/operators/rangejoin.py) turns it into a hash join
    on (user_id, time_bucket) with exact containment after. The oracle
    runs the plain theta join — same result, different plan."""
    from engine.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    sec = core.ts_seconds("ts")
    s = core.sessionize(ev, "user_id", "ts", "event_id", 1800.0, seq_col=None)
    intervals = s.groupBy("user_id", "session_id").agg(
        F.min(sec).alias("lo_s"), F.max(sec).alias("hi_s")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", sec.alias("ev_s")
    )
    out = interval_join(
        errors, intervals, "ev_s", "lo_s", "hi_s",
        keys=["user_id"], bucket_s=3600.0,
    )
    return out.select(
        "user_id",
        "event_id",
        "session_id",
        F.round(F.col("ev_s") - F.col("lo_s"), 6).alias("s_into_session"),
    )


SQL_RANGE_JOIN_SESSIONS = f"""
{_SESSIONIZED_SEC_CTE}, iv AS (
  SELECT user_id, session_id, MIN(sec) AS lo_s, MAX(sec) AS hi_s
  FROM s GROUP BY user_id, session_id
)
SELECT e.user_id, e.event_id, iv.session_id,
       ROUND(e.sec - iv.lo_s, 6) AS s_into_session
FROM s e JOIN iv ON e.user_id = iv.user_id
                AND e.sec BETWEEN iv.lo_s AND iv.hi_s
WHERE e.event_type = 'error'
"""


def q_window_rank_stats(spark, sf_dir):
    """Ranking-window family in one pass: rank / dense_rank / ntile /
    percent_rank / cume_dist over each user's purchase values — one
    shuffle (user_id), one sort, five codegen window functions sharing
    the frame."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_WINDOW_RANK_STATS = """
SELECT user_id, event_id,
       ROUND(value, 6) AS value,
       CAST(RANK() OVER w AS INT) AS rnk,
       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
"""


def q_pivot_event_counts(spark, sf_dir):
    """Pivot: per-user event-type counts as columns. Values are listed
    EXPLICITLY — `.pivot(col)` without values runs a distinct-scan
    discovery job before the plan exists (same doctrine as the
    flagship's explicit tool vocab). One hash agg; limited to the
    first 200 users to keep the gate result bounded."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.filter(F.col("user_id") < 200)
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
        .select("user_id", *[F.col(k).alias(f"n_{k}") for k in kinds])
    )


SQL_PIVOT_EVENT_COUNTS = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
FROM events WHERE user_id < 200 GROUP BY user_id
"""


def q_unpivot_lineitem(spark, sf_dir):
    """Unpivot (melt): lineitem's four numeric measures to long-format
    (measure, value) rows — the wide→long reshape a feature store
    needs; pure projection + generate, no shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 200)
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "value",
        )
        .select(
            "l_orderkey", "l_linenumber", "measure",
            F.round("value", 6).alias("value"),
        )
    )


SQL_UNPIVOT_LINEITEM = """
SELECT l_orderkey, l_linenumber, measure, ROUND(value, 6) AS value
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
)
WHERE l_orderkey < 200
"""


def q_set_ops_users(spark, sf_dir):
    """Relational set ops over user cohorts: viewers INTERSECT
    purchasers (engaged), signups EXCEPT purchasers (never converted),
    tagged and unioned. Catalyst plans INTERSECT/EXCEPT as left-semi /
    left-anti hash joins on the deduped sides."""
    ev = _t(spark, sf_dir, "events")

    def cohort(kind):
        return ev.filter(F.col("event_type") == kind).select("user_id").distinct()

    engaged = (
        cohort("view")
        .intersect(cohort("purchase"))
        .select("user_id", F.lit("viewed_and_purchased").alias("cohort"))
    )
    lapsed = (
        cohort("signup")
        .exceptAll(cohort("purchase"))
        .select("user_id", F.lit("signup_no_purchase").alias("cohort"))
    )
    return engaged.unionByName(lapsed)


SQL_SET_OPS_USERS = """
SELECT user_id, 'viewed_and_purchased' AS cohort FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
UNION ALL
SELECT user_id, 'signup_no_purchase' AS cohort FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
"""


def q_semi_anti_customers(spark, sf_dir):
    """Explicit left-semi / left-anti joins: customers WITH at least
    one order vs customers WITHOUT, tagged and unioned — the existence
    join pair (EXISTS / NOT EXISTS) without materializing the orders
    side."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_mktsegment", F.lit(True).alias("has_orders"))
    without = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_mktsegment", F.lit(False).alias("has_orders"))
    return with_orders.unionByName(without)


SQL_SEMI_ANTI_CUSTOMERS = """
SELECT c_custkey, c_mktsegment, TRUE AS has_orders
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_mktsegment, FALSE AS has_orders
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_dedup_sessions(spark, sf_dir):
    """Cross-family composition — the 'dedup conversations' pipeline
    step: sessionize → stable ordered assembly of each session's
    event-type path → exact dedup on the md5 fingerprint of the path.
    Groups with n_dups > 1 are behaviorally identical sessions; the
    canonical keeps the smallest (user_id, session_id). The text/path
    itself never shuffles twice: the fingerprint is computed in the
    same aggregation pass as the assembly."""
    ev = _t(spark, sf_dir, "events")
    s = core.sessionize(ev, "user_id", "ts", "event_id", SESSION_GAP_S, seq_col=None)
    per = s.groupBy("user_id", "session_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            )
        ).alias("fingerprint")
    )
    # lexicographic-min canonical as one scalar key (portable: struct
    # MIN and DuckDB's arg_min tuple support differ across engines)
    key = F.col("user_id") * F.lit(1_000_000_000) + F.col("session_id")
    return (
        per.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(key).alias("_k"))
        .select(
            "fingerprint",
            "n_dups",
            F.floor(F.col("_k") / 1_000_000_000).cast("long").alias("canonical_user"),
            (F.col("_k") % 1_000_000_000).cast("int").alias("canonical_session"),
        )
    )


SQL_DEDUP_SESSIONS = f"""
{_SESSIONIZED_GS_CTE},
per AS (
  SELECT user_id, session_id,
         md5(STRING_AGG(event_type, '>' ORDER BY ts, event_id)) AS fingerprint,
         user_id * 1000000000 + session_id AS k
  FROM s GROUP BY user_id, session_id
)
SELECT fingerprint, COUNT(*) AS n_dups,
       CAST(FLOOR(MIN(k) / 1000000000) AS BIGINT) AS canonical_user,
       CAST(MIN(k) % 1000000000 AS INT) AS canonical_session
FROM per GROUP BY fingerprint
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shape analytics: segment-filtered customers →
    unshipped-window orders → lineitem revenue, top-10 orders by
    revenue. Exercises the multi-join + agg + TakeOrderedAndProject
    composite: both dimension-side filters push to their scans, the
    customer side broadcasts, and the final top-10 is a partial
    per-partition takeOrdered (no full sort)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1997-01-01'
  AND l_shipdate > DATE '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    """TPC-H Q5-shape analytics: six-way join (lineitem-orders-
    customer-supplier-nation-region) with the local-supplier predicate
    (customer and supplier share a nation), revenue by nation. All
    four dimension tables broadcast; the two fact tables meet in one
    shuffled equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = F.broadcast(_t(spark, sf_dir, "customer"))
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    reg = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(nat, supp["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REGION_REVENUE = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01'
  AND o_orderdate < DATE '1998-01-01'
GROUP BY n_name
"""


def q_rolling_approx(spark, sf_dir):
    """Rolling APPROX distinct count (HyperLogLog++) over the same
    event-time range frame as q_rolling — the advertised bench-scale
    path of add_rolling(approx_distinct=True): sketches merge in O(1)
    memory per frame instead of materializing a collect_list.

    No SQL oracle by design (sketch estimates are engine-specific);
    the driver records a rows-only check and
    tests/test_topk.py::test_rolling_approx_distinct_tolerance pins the
    estimate against the exact count."""
    ev = _t(spark, sf_dir, "events")
    out = core.rolling_range(
        ev,
        "user_id",
        "ts",
        ROLL_S,
        {"roll_types_approx": "approx_count_distinct(event_type)"},
    )
    return out.select(
        "user_id", "event_id", F.col("roll_types_approx").cast("int").alias("roll_types_approx")
    )


def _asof_purchase(spark, sf_dir, **asof_kwargs):
    """Shared body of the three as-of gate queries (jvm / kernel /
    strict): view probes <- latest purchase context, differing only in
    asof_join kwargs, so the variants can never drift apart."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    ctx = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("event_ts"),
        F.col("event_id").alias("ctx_id"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        probe, ctx,
        on="user_id", probe_ts="ts", probe_idx="event_id",
        ctx_ts="event_ts", ctx_idx="ctx_id",
        payload=["purchase_value"], prefix="asof_", **asof_kwargs,
    )
    return out.select(
        "user_id", "event_id",
        F.round("asof_purchase_value", 6).alias("asof_purchase_value"),
    )


def q_asof_purchase(spark, sf_dir):
    """As-of join: each view event <- latest purchase (ts' <= ts) of the
    same user. Runs the engine's union-tag as-of operator; the oracle
    replays the same semantics in DuckDB SQL."""
    return _asof_purchase(spark, sf_dir)


SQL_ASOF_PURCHASE = """
WITH u AS (
  SELECT user_id, ts, event_id, 1 AS side, NULL::BIGINT AS ev_idx, NULL::DOUBLE AS pv
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, NULL, 0 AS side, event_id, value
  FROM events WHERE event_type = 'purchase'
),
f AS (
  SELECT user_id, ts, event_id, side,
         LAST_VALUE(pv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, side, ev_idx NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched
  FROM u
)
SELECT user_id, event_id, ROUND(matched, 6) AS asof_purchase_value
FROM f WHERE side = 1
"""


def q_topk_event_types(spark, sf_dir):
    """Per-entity frequency top-k (dominant-value contract, A2/A3+W6)."""
    ev = _t(spark, sf_dir, "events")
    return core.topk_by_count(ev, "user_id", "event_type", 3)


SQL_TOPK_EVENT_TYPES = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
)
SELECT user_id, event_type, cnt,
       CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, event_type ASC) AS rnk FROM c)
WHERE rnk <= 3
"""


def q_topk_auto_salted(spark, sf_dir):
    """Auto-skew dispatch (skew.auto_topk_by_count): plant a
    pathologically hot user deterministically — every even event_id is
    cloned to user_id -1, so user -1 holds ~33% of all rows — then let
    the sampled detector route it: the hot user's stage-1 partials fan
    out over salt buckets, cold users keep the plain single-group
    shape, all in ONE conditional-salt plan. Output is identical to
    the unsalted operator by construction (the oracle is the plain
    SQL top-k over the same skewed input), so the driver row checks
    BOTH the dispatch plumbing and the salted aggregation's
    correctness. sample_frac=0.5 so the detector reliably fires at
    sf0.01 scale; production would use ~0.01 (skew.hot_entities)."""
    from engine.operators.skew import auto_topk_by_count

    ev = _t(spark, sf_dir, "events")
    skewed = ev.unionByName(
        ev.filter(F.col("event_id") % 2 == 0).withColumn(
            "user_id", F.lit(-1).cast("long")
        )
    )
    return auto_topk_by_count(
        skewed, "user_id", "event_type", 3, idx_col="event_id",
        sample_frac=0.5,
    )


SQL_TOPK_AUTO_SALTED = """
WITH s AS (
  SELECT user_id, event_type FROM events
  UNION ALL
  SELECT -1 AS user_id, event_type FROM events WHERE event_id % 2 = 0
), c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM s GROUP BY user_id, event_type
)
SELECT user_id, event_type, cnt,
       CAST(rnk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, event_type ASC) AS rnk FROM c)
WHERE rnk <= 3
"""


def q_session_assembly(spark, sf_dir):
    """Ordered grouping + stable ordered concat (W1/W2/W3): per
    (user, session): size, span, event-type path in (ts, event_id)
    order — the reference's group-lines → sort-by-y → join semantics."""
    ev = _t(spark, sf_dir, "events")
    s = core.sessionize(ev, "user_id", "ts", "event_id", SESSION_GAP_S, seq_col=None)
    sec = core.ts_seconds("ts")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max(sec) - F.min(sec), 6).alias("span_s"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path"),
        )
    )


SQL_SESSION_ASSEMBLY = f"""
{_SESSIONIZED_GS_CTE}
SELECT user_id, session_id, COUNT(*) AS n_events,
       ROUND((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1e6, 6) AS span_s,
       STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
FROM s GROUP BY user_id, session_id
"""


def q_dedup_first(spark, sf_dir):
    """Order-preserving dedup (W5): first event per (user, type)."""
    ev = _t(spark, sf_dir, "events")
    out = core.dedup_first(ev, ["user_id", "event_type"], "ts", "event_id")
    return out.select("user_id", "event_type", "event_id")


SQL_DEDUP_FIRST = """
SELECT user_id, event_type, event_id
FROM (SELECT user_id, event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


def q_argmax_value(spark, sf_dir):
    """Per-entity arg-max (A7: largest-area text region analog)."""
    ev = _t(spark, sf_dir, "events")
    out = core.argmax_by(ev, "user_id", "value", "event_id")
    return out.select(
        "user_id", "event_id", F.round("value", 6).alias("max_value")
    )


SQL_ARGMAX_VALUE = """
SELECT user_id, event_id, ROUND(value, 6) AS max_value
FROM (SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_bin_users(spark, sf_dir):
    """Threshold binning of a group aggregate (P11 font-weight analog)."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.avg("value").alias("_avg"))
    return agg.select(
        "user_id",
        F.round("_avg", 6).alias("avg_value"),
        core.bin_threshold(F.col("_avg"), 60.0, 40.0).alias("value_class"),
    )


SQL_BIN_USERS = """
SELECT user_id, ROUND(AVG(value), 6) AS avg_value,
       CASE WHEN AVG(value) >= 60 THEN 'Light'
            WHEN AVG(value) > 40 THEN 'Regular'
            ELSE 'Bold' END AS value_class
FROM events GROUP BY user_id
"""


def q_json_props(spark, sf_dir):
    """Decode/parse stored blobs (S4: bytes→record analog, from_json)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


SQL_JSON_PROPS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_int
FROM events
"""


def q_variant_props(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: parse_json once
    into a variant value, typed extraction via try_variant_get — the
    shredding-friendly encoding for JSON at 100 TB (each access of
    get_json_object re-parses the string; a variant parses once and
    Parquet variant shredding pushes field access into the scan).
    Missing paths yield NULL, not errors (try_ semantics)."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_str"),
    )


SQL_VARIANT_PROPS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       json_extract_string(props, '$.missing') AS missing_str
FROM events
"""


def q_hex_format(spark, sf_dir):
    """rgb→hex key formatting (P1) + parse-back round trip (P2)."""
    ev = _t(spark, sf_dir, "events")
    r = (F.col("event_id") % 256).cast("int")
    g = ((F.col("event_id") * 7) % 256).cast("int")
    b = ((F.col("event_id") * 13) % 256).cast("int")
    hexc = F.format_string("#%02x%02x%02x", r, g, b)
    return ev.select(
        "event_id",
        hexc.alias("hex_color"),
        F.conv(F.substring(hexc, 2, 2), 16, 10).cast("int").alias("r_back"),
    )


SQL_HEX_FORMAT = """
SELECT event_id,
       printf('#%02x%02x%02x', event_id % 256, (event_id * 7) % 256,
              (event_id * 13) % 256) AS hex_color,
       CAST(event_id % 256 AS INT) AS r_back
FROM events
"""


def q_luminance(spark, sf_dir):
    """Derived numeric features: relative luminance, WCAG contrast vs
    white, is_light threshold (P3/P4/P5)."""
    ev = _t(spark, sf_dir, "events")
    r = (F.col("event_id") % 256) / 255.0
    g = ((F.col("event_id") * 7) % 256) / 255.0
    b = ((F.col("event_id") * 13) % 256) / 255.0
    lum = 0.2126 * r + 0.7152 * g + 0.0722 * b
    contrast = (F.lit(1.0) + 0.05) / (lum + 0.05)
    return ev.select(
        "event_id",
        F.round(lum, 6).alias("luminance"),
        F.round(contrast, 6).alias("contrast_vs_white"),
        (lum > 0.6).alias("is_light"),
    )


SQL_LUMINANCE = """
SELECT event_id,
       ROUND(lum, 6) AS luminance,
       ROUND(1.05 / (lum + 0.05), 6) AS contrast_vs_white,
       lum > 0.6 AS is_light
FROM (SELECT event_id,
             0.2126 * ((event_id % 256) / 255.0)
           + 0.7152 * (((event_id * 7) % 256) / 255.0)
           + 0.0722 * (((event_id * 13) % 256) / 255.0) AS lum
      FROM events)
"""


def q_quarantine(spark, sf_dir):
    """Validation-gate split (F2-F7 analogs): typed error code per
    failing row; first failing gate wins (validator ordering)."""
    ev = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("value") < 0.0, "NEGATIVE_VALUE")
        .when(
            ~F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
            "INVALID_ENUM",
        )
        .when(F.length("props") > 1000, "ROW_TOO_LARGE")
        .otherwise(None)
    )
    tagged = ev.withColumn("code", code)
    return tagged.groupBy("code").agg(F.count(F.lit(1)).alias("n"))


SQL_QUARANTINE = """
SELECT CASE WHEN value < 0.0 THEN 'NEGATIVE_VALUE'
            WHEN event_type NOT IN ('view','click','purchase','signup','error')
                 THEN 'INVALID_ENUM'
            WHEN LENGTH(props) > 1000 THEN 'ROW_TOO_LARGE'
            ELSE NULL END AS code,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_asof_purchase_kernel(spark, sf_dir):
    """Same as-of semantics as q_asof_purchase via the cogrouped
    pd.merge_asof Arrow-kernel strategy — the driver differential-tests
    both physical formulations against ONE SQL oracle."""
    return _asof_purchase(spark, sf_dir, strategy="kernel")


SQL_ASOF_PURCHASE_KERNEL = SQL_ASOF_PURCHASE


def q_asof_purchase_strict(spark, sf_dir):
    """Strict (<) as-of boundary: an exactly-coincident purchase is NOT
    visible to the view — the other half of the boundary contract the
    non-strict query pins (events at equal ts exist by construction in
    the fixtures)."""
    return _asof_purchase(spark, sf_dir, strict=True, strategy="jvm")


SQL_ASOF_PURCHASE_STRICT = """
WITH probe AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
), ctx AS (
  SELECT user_id, ts AS event_ts, event_id AS ctx_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.user_id, p.event_id, c.purchase_value,
         ROW_NUMBER() OVER (PARTITION BY p.user_id, p.event_id
                            ORDER BY c.event_ts DESC, c.ctx_id DESC) AS rn
  FROM probe p JOIN ctx c
    ON c.user_id = p.user_id AND c.event_ts < p.ts
)
SELECT p.user_id, p.event_id,
       ROUND(m.purchase_value, 6) AS asof_purchase_value
FROM probe p
LEFT JOIN matched m
  ON m.user_id = p.user_id AND m.event_id = p.event_id AND m.rn = 1
"""


def q_rollup_revenue(spark, sf_dir):
    """Hierarchical ROLLUP aggregate (status → priority) — Spark's
    rollup == ANSI GROUP BY ROLLUP; subtotal rows carry NULLs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube_revenue(spark, sf_dir):
    """Full CUBE sibling of the rollup (every grouping set of
    status × priority) — Spark's cube == ANSI GROUP BY CUBE."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_CUBE_REVENUE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_value_percentiles(spark, sf_dir):
    """Exact continuous percentiles per event type (median + p90)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
"""


def q_embed_centroid(spark, sf_dir):
    """Per-label element-wise centroid of the embedding column (first
    4 dimensions) — posexplode + two-level avg, the distributed way to
    reduce vectors without collecting them."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).filter(F.col("pos") < 4)
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v")
    )


SQL_EMBED_CENTROID = """
SELECT label, CAST(i - 1 AS INT) AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v
FROM embeddings, range(1, 5) r(i)
GROUP BY label, i
"""


# ---------------------------------------------------------------------------
# Conversation-level rollup — the SECOND aggregation level
# (engine/pipeline.summarize_conversations; reference analog: the
# per-image summary dict assembled after per-pixel extraction,
# analyze.py:96-119)
# ---------------------------------------------------------------------------

def q_conv_rollup(spark, sf_dir):
    """Gate query for `summarize_conversations`: build a transcript
    view of the events table deterministically (conv_id=user_id,
    turn_idx=row_number over (ts, event_id), role from event_id
    parity, tool=event_type with 'error' mapped to NULL so the
    null-filter path is exercised, txt_len=len(props)), run the
    engine's real sessionize + vocab expanding-top-k operators to
    produce a features-shaped frame, then roll it up. final_top_tools
    is joined to a comma string for hash-stable driver compare."""
    from pyspark.sql import Window

    from engine.operators.topk import add_top_tools_vocab
    from engine.pipeline import summarize_conversations

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        # parquet ts is NTZ; summarize uses unix_millis (needs TIMESTAMP).
        # Session tz is pinned UTC in _t, so the cast is epoch-preserving.
        F.col("ts").cast("timestamp").alias("ts"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("tool"),
        F.length("props").cast("int").alias("txt_len"),
    )
    t = core.sessionize(t, "conv_id", "ts", "turn_idx", SESSION_GAP_S)
    # explicit vocab (catalog stat — no discovery job); 'error' is NULL
    t = add_top_tools_vocab(t, vocab=["click", "purchase", "signup", "view"])
    out = summarize_conversations(t)
    return out.select(
        "conv_id",
        "n_turns",
        "n_sessions",
        F.round("span_s", 6).alias("span_s"),
        "n_user_turns",
        "n_assistant_turns",
        "tools_distinct",
        "total_txt_len",
        "avg_txt_len",
        "max_txt_len",
        F.array_join("final_top_tools", ",").alias("final_top_tools"),
    )


SQL_CONV_ROLLUP = f"""
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, ts, event_id,
         epoch_us(ts) / 1000000.0 AS sec,
         CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS tool,
         CAST(LENGTH(props) AS INT) AS txt_len
  FROM events
), g AS (
  SELECT *, CASE WHEN sec - LAG(sec) OVER
                   (PARTITION BY conv_id ORDER BY ts, event_id) IS NULL
                   OR sec - LAG(sec) OVER
                   (PARTITION BY conv_id ORDER BY ts, event_id) > {SESSION_GAP_S}
                 THEN 1 ELSE 0 END AS brk
  FROM t
), agg AS (
  SELECT conv_id,
         CAST(COUNT(*) AS INT) AS n_turns,
         CAST(SUM(brk) AS INT) AS n_sessions,
         ROUND((epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 1000.0, 6) AS span_s,
         CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS INT)
           AS n_user_turns,
         CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS INT)
           AS n_assistant_turns,
         CAST(COUNT(DISTINCT tool) AS INT) AS tools_distinct,
         CAST(SUM(COALESCE(txt_len, 0)) AS BIGINT) AS total_txt_len,
         ROUND(AVG(txt_len), 6) AS avg_txt_len,
         MAX(txt_len) AS max_txt_len
  FROM g GROUP BY conv_id
), tc AS (
  SELECT conv_id, tool, COUNT(*) AS c
  FROM t WHERE tool IS NOT NULL GROUP BY conv_id, tool
), r AS (
  SELECT conv_id, tool,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY c DESC, tool ASC) AS rnk
  FROM tc
), top AS (
  SELECT conv_id, list(tool ORDER BY rnk) AS lst
  FROM r WHERE rnk <= {TOP_K_TOOLS} GROUP BY conv_id
)
SELECT agg.conv_id, n_turns, n_sessions, span_s, n_user_turns,
       n_assistant_turns, tools_distinct, total_txt_len, avg_txt_len,
       max_txt_len,
       array_to_string(
         CASE WHEN lst IS NULL OR len(lst) = 0 THEN CAST([] AS VARCHAR[])
              ELSE (lst || [lst[-1], lst[-1], lst[-1]])[1:{TOP_K_TOOLS}] END,
         ',') AS final_top_tools
FROM agg LEFT JOIN top ON agg.conv_id = top.conv_id
"""
