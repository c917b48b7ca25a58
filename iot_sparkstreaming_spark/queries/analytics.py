"""Analytic query surface: window functions, sessionization, grouping
sets, set operations, as-of / range joins.

Every category here is explicitly ABSENT from the reference
(SURVEY.md §2.8 — no aggregations, no windows, no sorts, no set ops,
no join varieties beyond inner equi) and is added as a first-class
part of the new engine's surface, implemented on Spark built-ins.

Determinism: window orderings always include a unique tie-break
column (event_id); double window-sums accumulate exact decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from iot_sparkstreaming_spark.operators.graph import kcore
from iot_sparkstreaming_spark.operators.joins import asof_join, range_join
from iot_sparkstreaming_spark.queries.registry import register
from iot_sparkstreaming_spark.tables import load_table

# ---------------------------------------------------------------------------
# Ranking window: top-k per key
# ---------------------------------------------------------------------------

TOPK_ORACLE = """
SELECT user_id, event_id, CAST(value AS DOUBLE) AS value, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events
)
WHERE rk <= 3
"""


@register("window_topk_per_user", oracle=TOPK_ORACLE)
def window_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (ranking window). At scale this
    is the one-shuffle argmax pattern; rank ties broken by event_id so
    the result is a function of the data, not the partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(col("value").desc(), col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(col("rk") <= 3)
        .select("user_id", "event_id", "value", col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Running aggregate window (frame-exact, decimal-deterministic)
# ---------------------------------------------------------------------------

RUNNING_ORACLE = """
SELECT event_id, user_id,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS running_total,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts, event_id
  ) AS BIGINT) AS seq
FROM events
"""


@register("window_running_total", oracle=RUNNING_ORACLE)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total over event time with an explicit ROWS
    frame. The sum accumulates decimals so the running value is exact
    — a parallel double prefix-sum would not hash-match any oracle."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(col("value").cast("decimal(38,4)")).over(w).cast("double").alias(
            "running_total"
        ),
        F.row_number().over(wr).cast("bigint").alias("seq"),
    )


# ---------------------------------------------------------------------------
# Lag/lead analytics
# ---------------------------------------------------------------------------

DELTA_ORACLE = """
SELECT event_id, user_id,
  CAST(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS delta_value,
  CAST(epoch_ms(ts) - epoch_ms(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_ms
FROM events
"""


@register("window_event_deltas", oracle=DELTA_ORACLE)
def window_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-based per-user deltas: value change and inter-event gap in
    milliseconds (exact integer epoch-millis difference — whole-second
    epochs round differently across engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (col("value") - F.lag("value").over(w)).cast("double").alias("delta_value"),
        (
            F.unix_millis(col("ts")) - F.unix_millis(F.lag("ts").over(w))
        ).cast("bigint").alias("gap_ms"),
    )


# ---------------------------------------------------------------------------
# Sessionization (gap-based) — batch twin of streaming session windows
# ---------------------------------------------------------------------------

SESSION_GAP_MS = 1800 * 1000

SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > {SESSION_GAP_MS}
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT *,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  COUNT(*) AS n_events,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
  CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS duration_ms
FROM sessions
GROUP BY user_id, session_idx
"""


@register("sessionize_events", oracle=SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), the batch twin of
    Structured Streaming's ``session_window`` (streaming/pipelines.py).

    Classic two-window formulation: flag session starts via LAG, then
    a running SUM of flags numbers the sessions — one shuffle on
    user_id total, no self-join, no UDF. At 100 TB this is the only
    shape that works: everything else (self-joins on time ranges)
    blows up quadratically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_millis(col("ts")) - F.unix_millis(prev_ts)) > SESSION_GAP_MS),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_idx", F.sum("new_session").over(wrun))
        .groupBy("user_id", col("session_idx").cast("bigint").alias("session_idx"))
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
            .cast("bigint")
            .alias("duration_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP and CUBE (NULL subtotals labeled for parity)
# ---------------------------------------------------------------------------

ROLLUP_ORACLE = """
SELECT
  COALESCE(r_name, 'ALL') AS region,
  COALESCE(n_name, 'ALL') AS nation,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register("rollup_customer_census", oracle=ROLLUP_ORACLE)
def rollup_customer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region→nation with subtotal rows (NULLs COALESCEd to
    'ALL' so both engines label subtotals identically — r_name/n_name
    are never NULL in data, so the label is unambiguous)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), col("c_nationkey") == col("n_nationkey"))
        .join(F.broadcast(region), col("n_regionkey") == col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(col("c_acctbal").cast("decimal(38,4)"))
            .cast("double")
            .alias("total_acctbal"),
        )
        .select(
            F.coalesce(col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


CUBE_ORACLE = """
SELECT
  COALESCE(event_type, 'ALL') AS event_type,
  COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS date,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
"""


@register("cube_event_census", oracle=CUBE_ORACLE)
def cube_event_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, date): all four grouping combinations in
    one pass — Spark expands grouping sets before the shuffle, so it's
    still a single aggregation exchange."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
        .cube("event_type", "date")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(col("value").cast("decimal(38,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.coalesce(col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(col("date"), F.lit("ALL")).alias("date"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Set operations: UNION / INTERSECT / EXCEPT
# ---------------------------------------------------------------------------

SETOPS_ORACLE = """
SELECT user_id FROM (
  (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 300
   INTERSECT
   SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 300)
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 400
)
"""


@register("setops_user_cohorts", oracle=SETOPS_ORACLE)
def setops_user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(big-purchasers ∩ big-clickers) ∖ big-error users — INTERSECT
    and EXCEPT, both absent from the reference. Value thresholds keep
    each cohort a strict subset so the result is non-degenerate."""
    ev = load_table(spark, sf_dir, "events")

    def cohort(etype: str, minval: float) -> DataFrame:
        return (
            ev.filter((col("event_type") == etype) & (col("value") > minval))
            .select("user_id")
            .distinct()
        )

    return (
        cohort("purchase", 300.0)
        .intersect(cohort("click", 300.0))
        .exceptAll(cohort("error", 400.0))
    )


# ---------------------------------------------------------------------------
# As-of join (events ← latest purchase at-or-before each click)
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_event_id, value AS p_value
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase'
  ) WHERE rn = 1
)
SELECT c.event_id, c.user_id,
       CAST(epoch_ms(c.ts) AS VARCHAR) AS click_ms,
       p.p_event_id,
       CAST(p.p_value AS DOUBLE) AS p_value,
       CAST(epoch_ms(p.p_ts) AS VARCHAR) AS purchase_ms
FROM clicks c
ASOF JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.p_ts
"""


@register("asof_click_to_purchase", oracle=ASOF_ORACLE)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent
    purchase at-or-before it (inner semantics — clicks before any
    purchase drop). Implemented with the union-and-carry operator
    (operators/joins.py:asof_join): one shuffle, linear in rows —
    the DuckDB oracle uses its native ASOF JOIN, so this checks our
    from-scratch implementation against a reference implementation."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(col("event_type") == "purchase").select(
        "user_id",
        col("ts").alias("p_ts"),
        col("event_id").alias("p_event_id"),
        col("value").alias("p_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="p_ts",
        right_cols=["p_event_id", "p_value", "p_ts"],
        tie_break="p_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis(col("ts")).cast("string").alias("click_ms"),
        "p_event_id",
        col("p_value").cast("double").alias("p_value"),
        F.unix_millis(col("p_ts")).cast("string").alias("purchase_ms"),
    )


# ---------------------------------------------------------------------------
# Range join (errors ← views in the preceding hour, same user)
# ---------------------------------------------------------------------------

RANGE_ORACLE = """
SELECT e.event_id, e.user_id, COUNT(v.event_id) AS n_views_prev_hour
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
  ON e.user_id = v.user_id
 AND v.ts >= e.ts - INTERVAL 1 HOUR
 AND v.ts < e.ts
GROUP BY e.event_id, e.user_id
"""


@register("range_join_views_before_error", oracle=RANGE_ORACLE)
def range_join_views_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: per error event, how many views the same
    user made in the preceding hour. The equi-key (user_id) carries
    the join; the time band is a post-join filter — with a selective
    per-user key this stays linear-ish; for keyless band joins,
    bucketize time first (see operators/joins.py)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(col("event_type") == "error").select(
        col("event_id").alias("e_id"), col("user_id").alias("e_user"), col("ts").alias("e_ts")
    )
    views = ev.filter(col("event_type") == "view").select(
        col("event_id").alias("v_id"), col("user_id").alias("v_user"), col("ts").alias("v_ts")
    )
    cond = (col("v_ts") >= col("e_ts") - F.expr("INTERVAL 1 HOUR")) & (
        col("v_ts") < col("e_ts")
    )
    return (
        errors.join(views, (col("e_user") == col("v_user")) & cond, "left")
        .groupBy(col("e_id").alias("event_id"), col("e_user").alias("user_id"))
        .agg(F.count(col("v_id")).alias("n_views_prev_hour"))
    )


# ---------------------------------------------------------------------------
# Keyless band join (bucketized interval join)
# ---------------------------------------------------------------------------

BAND_MS = 60_000  # ±60 s

BAND_ORACLE = f"""
WITH e AS (
  SELECT event_id AS error_id, epoch_ms(ts) AS e_ms
  FROM events WHERE event_type = 'error'
),
s AS (
  SELECT event_id AS signup_id, epoch_ms(ts) AS s_ms
  FROM events WHERE event_type = 'signup'
)
SELECT error_id, signup_id, CAST(e_ms - s_ms AS BIGINT) AS delta_ms
FROM e JOIN s ON abs(e_ms - s_ms) <= {BAND_MS}
"""


@register("band_join_error_near_signup", oracle=BAND_ORACLE)
def band_join_error_near_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join: every (error, signup) event pair within
    ±60 s of each other, across ALL users — no equi-key exists, so a
    declarative inequality join would plan as broadcast-nested-loop
    (cross product × filter). Routed through
    ``operators/joins.py band_join``: time bucketed to the band width
    manufactures the equi-key (left explodes to bucket ±1), the exact
    predicate prunes bucket false-positives — linear in inputs + true
    output instead of |errors|×|signups|. The oracle states the pure
    inequality-join semantics, proving the bucketed plan loses and
    invents nothing."""
    from iot_sparkstreaming_spark.operators.joins import band_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(col("event_type") == "error").select(
        col("event_id").alias("error_id"), F.unix_millis(col("ts")).alias("e_ms")
    )
    signups = ev.filter(col("event_type") == "signup").select(
        col("event_id").alias("signup_id"), F.unix_millis(col("ts")).alias("s_ms")
    )
    return (
        band_join(errors, signups, "e_ms", "s_ms", BAND_MS)
        .select(
            "error_id",
            "signup_id",
            (col("e_ms") - col("s_ms")).cast("bigint").alias("delta_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Tumbling event-time window (batch twin of streaming windowed aggs)
# ---------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT
  strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
"""


@register("tumbling_window_hourly", oracle=TUMBLING_ORACLE)
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregation via ``F.window`` — the exact
    expression the streaming pipelines use with a watermark
    (streaming/pipelines.py:windowed_pulse_stats); running it as batch
    proves the batch/stream-unified semantics against a SQL oracle
    (DuckDB time_bucket)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(col("value").cast("decimal(38,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame: per-event trailing-hour average
# ---------------------------------------------------------------------------

SLIDING_ORACLE = """
SELECT
  event_id,
  user_id,
  epoch_ms(ts) AS ts_ms,
  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) / COUNT(*) OVER w
    AS avg_value_1h,
  COUNT(*) OVER w AS n_in_window
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_ms(ts)
  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
)
"""


@register("sliding_avg_1h", oracle=SLIDING_ORACLE)
def sliding_avg_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame keyed on event TIME, not row position: each
    event's average over the same user's trailing hour. A rows-based
    frame cannot express this (gaps and bursts change how many rows
    an hour holds); the range frame bounds the frame by the order-key
    VALUE. Frame sums accumulate in decimal so in-frame order (which
    can tie on the millisecond) cannot perturb the double result.

    Scale: one shuffle on user_id; the frame scan is a single ordered
    pass per partition — no self-join materialization of
    (event × events-in-hour) pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ms)
        .rangeBetween(-3600000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        ms.alias("ts_ms"),
        (
            F.sum(col("value").cast("decimal(38,6)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("avg_value_1h"),
        F.count("*").over(w).alias("n_in_window"),
    )


# ---------------------------------------------------------------------------
# Ranking-function family (rank / dense_rank / percent_rank / cume_dist /
# ntile / first_value / lag) in one windowed pass
# ---------------------------------------------------------------------------

RANK_FAMILY_ORACLE = """
SELECT
  event_id,
  user_id,
  RANK() OVER tie_w AS rnk,
  DENSE_RANK() OVER tie_w AS drnk,
  CUME_DIST() OVER tie_w AS cdist,
  PERCENT_RANK() OVER uniq_w AS prank,
  NTILE(4) OVER uniq_w AS quartile,
  FIRST_VALUE(event_id) OVER uniq_w AS first_event,
  LAG(event_id, 1, -1) OVER uniq_w AS prev_event
FROM events
WHERE user_id < 20
WINDOW
  tie_w AS (PARTITION BY user_id ORDER BY event_type),
  uniq_w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("window_rank_family", oracle=RANK_FAMILY_ORACLE)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ranking/analytic window function in one pass, over two
    frames: a TIED ordering (event_type — exercises rank vs
    dense_rank gaps and cume_dist plateaus, all of which are
    well-defined under ties) and a UNIQUE ordering (ts, event_id —
    required for ntile/first_value/lag, whose outputs depend on row
    order within ties and would otherwise be nondeterministic).

    Both windows partition by user_id, so Spark computes them after
    ONE shuffle — same exchange, two sort specs.
    """
    ev = load_table(spark, sf_dir, "events").filter(col("user_id") < 20)
    tie_w = Window.partitionBy("user_id").orderBy("event_type")
    uniq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(tie_w).alias("rnk"),
        F.dense_rank().over(tie_w).alias("drnk"),
        F.cume_dist().over(tie_w).alias("cdist"),
        F.percent_rank().over(uniq_w).alias("prank"),
        F.ntile(4).over(uniq_w).alias("quartile"),
        F.first("event_id").over(uniq_w).alias("first_event"),
        F.lag("event_id", 1, -1).over(uniq_w).alias("prev_event"),
    )


# ---------------------------------------------------------------------------
# Multiset set operations: INTERSECT ALL / EXCEPT ALL
# ---------------------------------------------------------------------------

SETOPS_ALL_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'view' AND value > 200
  INTERSECT ALL
  SELECT user_id FROM events WHERE event_type = 'click' AND value > 200
) GROUP BY user_id
"""


@register("setops_multiset_intersect", oracle=SETOPS_ALL_ORACLE)
def setops_multiset_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics: a user appearing m times in
    the view cohort and n times in the click cohort appears min(m, n)
    times in the result (the DISTINCT variants in setops_user_cohorts
    collapse to 0/1). Implemented with Spark's intersectAll, which
    plans as a count-matching aggregate, not a join explosion; the
    output is re-aggregated per user so the check is order-free.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter((col("event_type") == "view") & (col("value") > 200)).select(
        "user_id"
    )
    clicks = ev.filter((col("event_type") == "click") & (col("value") > 200)).select(
        "user_id"
    )
    return (
        views.intersectAll(clicks)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


EXCEPT_ALL_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'view' AND value > 200
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'error'
) GROUP BY user_id
"""


@register("setops_multiset_except", oracle=EXCEPT_ALL_ORACLE)
def setops_multiset_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference: a user with m view rows and
    n error rows keeps max(m - n, 0) rows, each error occurrence
    cancelling one view occurrence (DISTINCT EXCEPT would drop the
    user entirely on a single error)."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter((col("event_type") == "view") & (col("value") > 200)).select(
        "user_id"
    )
    errors = ev.filter(col("event_type") == "error").select("user_id")
    return (
        views.exceptAll(errors)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# PageRank over the customer–supplier trade graph (iterative algorithm #2)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 85  # damping in percent → exact integer arithmetic


def _trade_links_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer–supplier edge list ``(a=cust*2, b=supp*2+1)`` with
    the minimum fulfillment-lag weight ``w`` (ship date − order date,
    integer days) — the ONE orders⋈lineitem fact join every
    trade-graph consumer derives from: the min-lag weights feed
    Bellman-Ford (`cheapest_path_lead_time`); dropping ``w`` yields
    the distinct pair set (`_trade_pairs`) that PageRank, k-core, LPA,
    HITS, assortativity, and link prediction share. One fact join
    builds the whole family. ~587 k rows at sf0.1, linear in
    lineitem."""
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        )
        return (
            orders.join(li, col("o_orderkey") == col("l_orderkey"))
            .groupBy(
                (col("o_custkey") * 2).alias("a"),
                (col("l_suppkey") * 2 + 1).alias("b"),
            )
            .agg(
                F.min(F.datediff(col("l_shipdate"), col("o_orderdate")))
                .cast("bigint")
                .alias("w")
            )
        )

    return artifact_memo(spark, ("trade_links_weighted", sf_dir), build)


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct customer–supplier trading pairs ``(a=cust*2,
    b=supp*2+1)`` — the edge set every unweighted trade-graph
    consumer (PageRank, k-core, LPA, assortativity) shares. The
    min-lag GROUP BY of `_trade_links_weighted` is already distinct
    on (a, b), so the pair set is a projection of that artifact: ONE
    fact join serves the weighted and unweighted graph families, and
    this build is edge-sized, never touching orders/lineitem again."""
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build() -> DataFrame:
        return (
            _trade_links_weighted(spark, sf_dir)
            .select("a", "b")
        )

    return artifact_memo(spark, ("trade_pairs", sf_dir), build)


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration oracle: recursive CTEs cannot aggregate
    in the recursive member, but 5 fixed iterations unroll into 5
    plain CTEs — each the exact integer update rule the Spark loop
    runs (see operators/graph.py pagerank)."""
    from iot_sparkstreaming_spark.operators.graph import PR_SCALE

    base = PR_SCALE * (100 - PR_DAMP) // 100
    sql = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
outdeg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a),
ed AS (SELECT e.a, e.b, o.deg FROM edges e JOIN outdeg o ON e.a = o.a),
nodes AS (SELECT DISTINCT a AS node FROM edges),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes)"""
    for i in range(1, PR_ITERS + 1):
        sql += f""",
r{i} AS (
  SELECT n.node,
    CAST({base} + ({PR_DAMP} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT ed.b AS node, SUM(r.pr // ed.deg) AS s
    FROM ed JOIN r{i - 1} r ON ed.a = r.node
    GROUP BY ed.b
  ) c ON n.node = c.node
)"""
    sql += f"""
SELECT node AS node_id, node % 2 = 1 AS is_supplier, pr
FROM r{PR_ITERS}
"""
    return sql


@register("pagerank_trade_graph", oracle=_pagerank_oracle())
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer–supplier graph (an edge
    per distinct trading pair from orders⋈lineitem, both directions so
    rank flows as an undirected random walk) — the engine's second
    iterative-algorithm shape beside connected components: a FIXED
    number of driver-loop rounds, each a distributed join+aggregate.

    Ranks use fixed-point integer arithmetic (operators/graph.py
    pagerank): every division is a bigint floor division, so the
    5-round fixpoint is bit-for-bit reproducible — the oracle unrolls
    the identical update rule into 5 plain CTEs, making an iterative
    distributed algorithm exactly checkable (the same trick as the
    components recursive-CTE oracle, minus the recursion).

    Scale: the edge list is SF-scaled (587 k distinct pairs at sf0.1,
    growing linearly), shuffled once per round on the join key; the
    degree-annotated edge table is materialized once and reused by
    all rounds. Supplier hubs concentrate rank — AQE's skew handling
    covers the hot destination keys at 100×.
    """
    from iot_sparkstreaming_spark.operators.graph import pagerank
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build():
        pairs = _trade_pairs(spark, sf_dir)
        edges = pairs.union(pairs.select(col("b").alias("a"), col("a").alias("b")))
        return pagerank(edges, iterations=PR_ITERS, damping_pct=PR_DAMP).select(
            col("node").alias("node_id"),
            (col("node") % 2 == 1).alias("is_supplier"),
            "pr",
        )

    # Memoized per (session, sf_dir): the operator's loop invariants
    # (degree-annotated edges, node set) persist inside the returned
    # plan, so repeated runs reuse one materialization instead of
    # caching a fresh copy per call.
    return artifact_memo(spark, ("pagerank_trade_graph", sf_dir), build)


# ---------------------------------------------------------------------------
# SCD2 dimension build (gaps-and-islands over event streams)
# ---------------------------------------------------------------------------

SCD2_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN event_type IS DISTINCT FROM
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    THEN 1 ELSE 0 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
),
collapsed AS (
  SELECT user_id, CAST(run_id AS BIGINT) AS version, event_type,
    MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, run_id, event_type
)
SELECT user_id, version, event_type, valid_from,
  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
    AS is_current,
  CAST(n_events AS BIGINT) AS n_events
FROM collapsed
"""


@register("scd2_user_dimension", oracle=SCD2_ORACLE)
def scd2_user_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    collapse each user's consecutive same-event_type runs into
    versioned validity intervals [valid_from, valid_to) with an
    is_current flag — the classic gaps-and-islands pattern
    (lag → change flag → running-sum run id → collapse → lead).

    Determinism: run ordering is (ts, event_id) — event_id is the
    unique tie-break, so versions are a function of the data.

    Scale: every window partitions by user_id and the collapse groups
    by (user_id, run_id) — hash partitioning on user_id satisfies ALL
    of them (subset-clustering), so the whole query is ONE shuffle on
    user_id followed by in-partition sorts. No fact-table re-shuffle
    between stages.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1
        ).otherwise(0).alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    collapsed = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count("*").cast("bigint").alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        col("run_id").cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Two-level rollup (hypertable continuous-aggregate pattern)
# ---------------------------------------------------------------------------

ROLLUP2_ORACLE = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS m, event_type,
    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(38,4))) AS sv,
    MIN(value) AS mn, MAX(value) AS mx
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('hour', m) AS hour, event_type,
  CAST(SUM(n) AS BIGINT) AS n_events,
  CAST(SUM(sv) AS DOUBLE) AS sum_value,
  CAST(MIN(mn) AS DOUBLE) AS min_value,
  CAST(MAX(mx) AS DOUBLE) AS max_value
FROM minute GROUP BY 1, 2
"""


@register("rollup_minute_to_hour", oracle=ROLLUP2_ORACLE)
def rollup_minute_to_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: a minute-grain rollup
    materialized first, then the hour grain computed FROM the minute
    rollup (sum-of-sums, min-of-mins) rather than re-scanning raw
    events — exact for the decomposable aggregates used here, and the
    oracle replays the same two-level computation.

    Scale: this is the pattern that makes dashboard queries cheap at
    100 TB — the raw scan happens once into the minute table (in
    production, incrementally per ingest window), and every coarser
    grain re-aggregates the much smaller rollup. The second stage
    shuffles one row per (minute, event_type), ~1/60th of stage one's
    output; Catalyst plans both as ordinary hash aggregates with
    map-side partials.
    """
    ev = load_table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", col("ts")).alias("m"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(col("value").cast("decimal(38,4)")).alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return minute.groupBy(
        F.date_trunc("hour", col("m")).alias("hour"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sv").cast("double").alias("sum_value"),
        F.min("mn").cast("double").alias("min_value"),
        F.max("mx").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Salted two-phase top-k (hot-key-proof twin of window_topk_per_user)
# ---------------------------------------------------------------------------


@register("window_topk_salted", oracle=TOPK_ORACLE)
def window_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per user via the salted two-phase ranking operator
    (operators/skew.py) — bitwise the SAME result as
    window_topk_per_user (they share an oracle), but no task ever
    holds a whole user: phase 1 ranks within (user, salt) shards and
    keeps 3 per shard, phase 2 ranks the ≤ 48 survivors per user.

    This is the plan you switch to when one key is pathologically hot
    (a bot account in a 100 TB event log): windows can't be
    AQE-skew-split the way joins can, so the mitigation must be
    algebraic. Cost at uniform data: one extra (cheap) shuffle of the
    ≤ k·n_salts survivors — which is why the unsalted form remains
    the default and this one is the documented skew escape hatch.
    """
    from iot_sparkstreaming_spark.operators.skew import salted_topk

    ev = load_table(spark, sf_dir, "events")
    return salted_topk(
        ev,
        part_keys=["user_id"],
        order_by=[col("value").desc(), col("event_id")],
        k=3,
        salt_from=col("event_id"),
    ).select(
        "user_id", "event_id", "value", col("rk").cast("bigint").alias("rk")
    )


# ---------------------------------------------------------------------------
# Exact descriptive statistics: correlation + OLS slope from moments
# ---------------------------------------------------------------------------

CORR_ORACLE = """
WITH m AS (
  SELECT event_type,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(EXTRACT(hour FROM ts) AS DECIMAL(38,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(value AS DECIMAL(38,6)) * EXTRACT(hour FROM ts)) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4))) AS DOUBLE) AS sx2,
    CAST(SUM(CAST(EXTRACT(hour FROM ts) * EXTRACT(hour FROM ts) AS DECIMAL(38,4))) AS DOUBLE) AS sy2
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
  (n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    AS corr_value_hour,
  (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS ols_slope,
  (sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n AS ols_intercept
FROM m
"""


@register("stats_correlation", oracle=CORR_ORACLE)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and OLS fit (slope/intercept) of event
    value vs hour-of-day, per event type — descriptive statistics
    built from EXACT decimal moment sums (n, Σx, Σy, Σxy, Σx², Σy²),
    with the closed-form combination done in double arithmetic in ONE
    identical expression on both engines. Built-in ``corr()`` would
    accumulate doubles in partition order and never hash-match; the
    moment form is the scale-correct pattern anyway (one partial-agg
    pass, six numbers per group).
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.hour(col("ts"))
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(col("value").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(hour.cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum(col("value").cast("decimal(38,6)") * hour).cast("double").alias("sxy"),
        F.sum(col("value").cast("decimal(19,4)") * col("value").cast("decimal(19,4)"))
        .cast("double")
        .alias("sx2"),
        F.sum((hour * hour).cast("decimal(38,4)")).cast("double").alias("sy2"),
    )
    slope = (col("n") * col("sxy") - col("sx") * col("sy")) / (
        col("n") * col("sx2") - col("sx") * col("sx")
    )
    return m.select(
        "event_type",
        col("n").cast("bigint").alias("n_events"),
        (
            (col("n") * col("sxy") - col("sx") * col("sy"))
            / F.sqrt(
                (col("n") * col("sx2") - col("sx") * col("sx"))
                * (col("n") * col("sy2") - col("sy") * col("sy"))
            )
        ).alias("corr_value_hour"),
        slope.alias("ols_slope"),
        ((col("sy") - slope * col("sx")) / col("n")).alias("ols_intercept"),
    )


# ---------------------------------------------------------------------------
# Time-series gap filling with LOCF (hypertable gapfill pattern)
# ---------------------------------------------------------------------------

GAPFILL_USERS = 8

GAPFILL_ORACLE = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
  FROM events WHERE user_id < {GAPFILL_USERS}
  GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY user_id
)
SELECT s.user_id, s.h AS hour_ts,
  CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
  a.sum_value AS sum_value,
  LAST_VALUE(a.sum_value IGNORE NULLS) OVER (
    PARTITION BY s.user_id ORDER BY s.h
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS locf_value,
  a.n_events IS NULL AS is_gap
FROM spine s LEFT JOIN hourly a ON s.user_id = a.user_id AND s.h = a.h
"""


@register("gapfill_hourly_series", oracle=GAPFILL_ORACLE)
def gapfill_hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap filling: build each user's dense hourly
    spine between their first and last event, left-join the actual
    hourly rollup, and carry the last observation forward (LOCF) into
    the gaps — the resample/fill step every time-series consumer
    (forecasting, feature windows) needs.

    Plan discipline: one explicit repartition on user_id up front,
    after which every keyed stage — the (user, hour) rollup, the
    per-user min/max, the spine explode, and the LOCF window — is
    clustering-satisfied by that single partitioning (hash on a
    subset of each stage's keys). The hourly rollup is materialized
    once and shared by the spine derivation and the join (Spark
    reuses no exchanges across sibling branches); post-rollup it is
    tiny relative to raw events, so AQE broadcasts it into the spine
    join. The spine is generated distributed, never at the driver.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(col("user_id") < GAPFILL_USERS)
        .repartition("user_id")
    )
    # materialized once: the spine derivation and the spine⋈actuals
    # join both consume it, and Spark reuses no exchanges across
    # branches of the same subtree (README "plan discipline")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", col("ts")).alias("h"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(col("value").cast("decimal(38,4)")).cast("double").alias(
                "sum_value"
            ),
        )
        .localCheckpoint(eager=True)
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(col("h0"), col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        col("h").alias("hour_ts"),
        F.coalesce(col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("locf_value"),
        col("n_events").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph (graph algorithm #3)
# ---------------------------------------------------------------------------

# The oracle enumerates each triangle once in its canonical a<b<c id
# order (two joins over the id-ordered edge list) — tractable at
# oracle scale, but the id-ordering would melt at a power-law hub.
# The Spark side uses degree-ordered orientation instead
# (operators/graph.py triangle_counts); both count the SAME triangle
# set, so the per-node explode matches exactly.
TRIANGLE_ORACLE = """
WITH p AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM p e1
  JOIN p e2 ON e2.u = e1.v
  JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
GROUP BY node
"""


@register("triangle_count_parts", oracle=TRIANGLE_ORACLE)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph (parts are
    adjacent when some order contains both): the local-clustering
    signal behind "frequently bought together" bundles and community
    seeding — and the engine's third graph-algorithm shape beside
    label propagation and PageRank.

    Scale: the edge derivation is a per-order self-join (bounded by
    order size, ~7 lineitems, so ≤ 21 pairs per order — linear in
    lineitem, not quadratic in parts); triangle enumeration uses
    degree-ordered orientation so wedge work is m^1.5-bounded even on
    power-law co-purchase hubs — see operators/graph.py
    triangle_counts for the WWW'11 provenance. MEASURED, not argued
    (docs/SCALING.md, "Triangle counting on a power-law graph"): on a
    deterministic power-law graph the oriented wedge mass stays under
    m^1.5 at 1x and 10x and grows near-linearly (8.2M vs the naive
    id-ordering's 13.8B wedges at 10x — a 1683x reduction), runtime
    decade exponent 0.59. This fixture's near-complete random graph
    remains the documented dense exception: its wedge mass is
    quadratic in the DATA for any exact algorithm."""
    from iot_sparkstreaming_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(col("l_orderkey").alias("o"), col("l_partkey").alias("u"))
    b = li.select(col("l_orderkey").alias("o"), col("l_partkey").alias("v"))
    edges = (
        a.join(b, "o")
        .filter(col("u") < col("v"))
        .select("u", "v")
        .distinct()
    )
    return triangle_counts(edges)


# ---------------------------------------------------------------------------
# Trailing-window z-score anomaly flags (exact integer formulation)
# ---------------------------------------------------------------------------

# All arithmetic in bigint "centi-basis" units (value × 10⁴, exact:
# fixture values carry ≤ 4 dp) so the 2σ test is the cross-multiplied
# inequality (n·x − S)² > 4·(n·Q − S²) — no float mean, no sqrt, no
# division, hence bitwise identical on any engine and any partitioning.
ANOMALY_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
    CAST(ROUND(value * 10000) AS BIGINT) AS vc
  FROM events
),
w AS (
  SELECT user_id, event_id, value, vc,
    COUNT(*) OVER win AS n_hist,
    CAST(SUM(vc) OVER win AS BIGINT) AS s_hist,
    CAST(SUM(vc * vc) OVER win AS BIGINT) AS q_hist
  FROM e
  WINDOW win AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
  CAST(n_hist AS BIGINT) AS n_hist,
  (n_hist * vc - s_hist) * (n_hist * vc - s_hist)
    > 4 * (n_hist * q_hist - s_hist * s_hist) AS is_anomaly
FROM w
WHERE n_hist >= 5
"""


@register("anomaly_zscore_events", oracle=ANOMALY_ORACLE)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: flag an event whose value
    sits more than 2 trailing standard deviations from the user's
    previous ≤ 20 events (at least 5 of history) — the per-entity
    outlier gate of a telemetry quality pipeline.

    Exactness: the z-test is evaluated as the cross-multiplied
    integer inequality (n·x − S)² > 4(n·Q − S²) over value×10⁴
    bigints, so there is no float mean/stddev to drift between
    engines or aggregation orders. Scale: one shuffle on user_id;
    the three window aggregates share a single sort/frame pass."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(col("value") * 10000).cast("bigint")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = ev.select(
        "user_id",
        "event_id",
        "value",
        vc.alias("vc"),
        F.count("*").over(win).alias("n_hist"),
        F.sum(vc).over(win).cast("bigint").alias("s_hist"),
        F.sum(vc * vc).over(win).cast("bigint").alias("q_hist"),
    )
    dev = col("n_hist") * col("vc") - col("s_hist")
    var4 = 4 * (col("n_hist") * col("q_hist") - col("s_hist") * col("s_hist"))
    return w.filter(col("n_hist") >= 5).select(
        "user_id",
        "event_id",
        "value",
        col("n_hist").cast("bigint").alias("n_hist"),
        (dev * dev > var4).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (exact dyadic weights over a 16-tap window)
# ---------------------------------------------------------------------------

# α = 1/2 EWMA truncated at 16 taps: weight of the k-th lag is
# 2^-(k+1), so the weighted sum over value×10⁴ bigints is Σ vc·2^(15-k)
# — a pure bigint (≤ 5.7e6 · 2¹⁵ · 16 ≈ 3e12, far inside int64), made
# a double by ONE final division. The oracle computes the identical
# integer via a bounded self-join on row numbers; the Spark side folds
# an ordered window array — same integer, bitwise-same double.
EWMA_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts,
    CAST(ROUND(value * 10000) AS BIGINT) AS vc,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT cur.user_id, cur.event_id,
  CAST(cur.vc AS DOUBLE) / 10000.0 AS value,
  CAST(SUM(past.vc * (CAST(1 AS BIGINT) << (15 - (cur.rn - past.rn)))) AS BIGINT)
    / 655360000.0 AS ewma
FROM e cur
JOIN e past
  ON past.user_id = cur.user_id AND past.rn BETWEEN cur.rn - 15 AND cur.rn
GROUP BY cur.user_id, cur.event_id, cur.vc
"""


@register("ewma_user_value", oracle=EWMA_ORACLE)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = 1/2, 16-tap truncation) of event values —
    the smoothing pass behind rate limiting, trend displays, and
    drift detection, expressed without a row-at-a-time recurrence.

    Exactness: dyadic weights make every term an integer shift of the
    value×10⁴ bigint; the fold is an exact integer sum (order-free by
    construction) and only the final normalization divides. The
    oracle computes the same integer via a bounded rn-band self-join.

    Scale: one shuffle on user_id; ``collect_list`` over a 16-row
    frame is O(16) state per row (the window array never exceeds 16
    elements), unlike an unbounded running collect. The fold runs in
    whole-stage-codegen'd higher-order functions, not Python."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(col("value") * 10000).cast("bigint")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, 0)
    )
    arr = ev.select(
        "user_id",
        "event_id",
        vc.alias("vc"),
        F.collect_list(vc).over(win).alias("arr"),
    )
    # weight 2^(16-m+i) as a bigint: pow is exact up to 2^15 and the
    # cast is lossless (shiftleft would be equivalent but PySpark's
    # wrapper only takes a literal shift amount)
    scaled = F.aggregate(
        F.transform(
            col("arr"),
            lambda x, i: x
            * F.pow(F.lit(2.0), F.lit(16) - F.size(col("arr")) + i).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return arr.select(
        "user_id",
        "event_id",
        (col("vc").cast("double") / 10000.0).alias("value"),
        (scaled.cast("bigint") / F.lit(655360000.0)).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Rolling exact median (order statistics over a sliding frame)
# ---------------------------------------------------------------------------

ROLL_MEDIAN_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, value,
    median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS roll_median,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_id, roll_median FROM e WHERE rn >= 15
"""


@register("rolling_median_value", oracle=ROLL_MEDIAN_ORACLE)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of event values over a 15-row trailing
    frame per user — the robust-statistics twin of the trailing-mean
    z-score: medians shrug off the exact outliers
    ``anomaly_zscore_events`` exists to flag, which is why monitoring
    pipelines ship both. Spark has no exact-median window aggregate,
    so the frame is materialized (``collect_list`` over a BOUNDED
    15-row frame — O(15) state per row), sorted, and indexed at its
    middle; with the frame always full and odd-length, element 8 IS
    the median, bitwise equal to DuckDB's exact ``median`` window
    (both pick the same stored double; no interpolation on odd
    counts). Partial leading frames (even lengths would interpolate
    differently) are excluded by the same row_number that shares the
    ONE user_id sort — the whole query is a single exchange + a
    single window pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-14, 0)
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.array_sort(F.collect_list("value").over(w)).alias("arr"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(col("rn") >= 15)
        .select("user_id", "event_id", F.element_at(col("arr"), 8).alias("roll_median"))
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (lag-k Pearson per user series)
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 2, 3)

ACF_ORACLE = """
WITH led AS (
  SELECT user_id, value AS x,
    lead(value, 1) OVER w AS y1,
    lead(value, 2) OVER w AS y2,
    lead(value, 3) OVER w AS y3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
pairs AS (
  SELECT user_id, 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
  UNION ALL SELECT user_id, 2 AS lag, x, y2 AS y FROM led WHERE y2 IS NOT NULL
  UNION ALL SELECT user_id, 3 AS lag, x, y3 AS y FROM led WHERE y3 IS NOT NULL
),
m AS (
  SELECT user_id, lag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))) AS DOUBLE) AS sx2,
    CAST(SUM(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sy2
  FROM pairs GROUP BY user_id, lag
)
SELECT user_id, lag, CAST(n AS BIGINT) AS n_pairs,
  (n * sxy - sx * sy)
    / NULLIF(sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 0) AS acf
FROM m
ORDER BY user_id, lag
"""


@register("acf_user_value", oracle=ACF_ORACLE)
def acf_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of each user's event-value series at
    lags 1..3 — the seasonality/persistence diagnostic every
    time-series monitoring stack computes before fitting a forecast
    model (``workingTest.scala`` has no statistics at all — SURVEY.md
    S2.8 absent-category; complements ``stats_correlation``'s
    cross-variable Pearson with the serial, per-series form).

    Exactness: same discipline as ``stats_correlation`` — moment sums
    (n, Sx, Sy, Sxy, Sx2, Sy2) accumulate in EXACT decimal so the
    value is independent of aggregation order, then ONE identical
    double-arithmetic closed form on both engines; the denominator is
    NULLIF-guarded so a zero-variance series is NULL on both (Spark's
    non-ANSI x/0 is NULL, DuckDB's is inf — unguarded they diverge).

    Scale shape: a single exchange on user_id serves the lead()
    window (lags read forward in the SAME sorted pass — one sort, not
    one per lag), the stacked (lag, x, y) pairs stay in the same
    partitions, and the groupBy(user_id, lag) reuses the exchange
    (partitioning on user_id satisfies the clustered distribution).
    Per-user series are bounded (one device's history), so the window
    partition never skews the way a global-sort ACF would.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    led = ev.select(
        "user_id",
        col("value").alias("x"),
        *[F.lead("value", k).over(w).alias(f"y{k}") for k in ACF_LAGS],
    )
    pairs = led.select(
        "user_id",
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("lag"), col(f"y{k}").alias("y"))
                    for k in ACF_LAGS
                ]
            )
        ).alias("p"),
    ).select("user_id", col("p.lag").alias("lag"), "x", col("p.y").alias("y")).filter(
        col("y").isNotNull()
    )
    m = pairs.groupBy("user_id", "lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(col("x").cast("decimal(38,4)")).cast("double").alias("sx"),
        F.sum(col("y").cast("decimal(38,4)")).cast("double").alias("sy"),
        F.sum(col("x").cast("decimal(19,4)") * col("y").cast("decimal(19,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(col("x").cast("decimal(19,4)") * col("x").cast("decimal(19,4)"))
        .cast("double")
        .alias("sx2"),
        F.sum(col("y").cast("decimal(19,4)") * col("y").cast("decimal(19,4)"))
        .cast("double")
        .alias("sy2"),
    )
    return m.select(
        "user_id",
        "lag",
        col("n").cast("bigint").alias("n_pairs"),
        (
            (col("n") * col("sxy") - col("sx") * col("sy"))
            / F.nullif(
                F.sqrt(
                    (col("n") * col("sx2") - col("sx") * col("sx"))
                    * (col("n") * col("sy2") - col("sy") * col("sy"))
                ),
                F.lit(0.0),
            )
        ).alias("acf"),
    ).orderBy("user_id", "lag")


# ---------------------------------------------------------------------------
# Equi-width histogram (distributed binning)
# ---------------------------------------------------------------------------

HIST_BIN_WIDTH = 5.0
HIST_N_BINS = 20  # values land in [0, 100); the last bin absorbs the tail

HISTOGRAM_ORACLE = f"""
WITH binned AS (
  SELECT event_type, value,
    CAST(LEAST(GREATEST(FLOOR(value / {HIST_BIN_WIDTH}), 0), {HIST_N_BINS - 1}) AS BIGINT) AS bin
  FROM events
)
SELECT event_type, bin,
  CAST(bin * {HIST_BIN_WIDTH} AS DOUBLE) AS bin_lo,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM binned
GROUP BY event_type, bin
ORDER BY event_type, bin
"""


@register("value_histogram_events", oracle=HISTOGRAM_ORACLE)
def value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event type — the
    distribution profile behind dashboards and drift monitors
    (``workingTest.scala`` aggregates nothing — SURVEY.md S2.8
    absent-category). Fixed bin width with clamped edge bins, so the
    bin function is a pure per-row expression.

    Scale shape: binning is map-side arithmetic fused into the scan;
    the aggregate has (event_type x 20) groups, so the map-side
    partial combine collapses each partition to at most a few hundred
    rows before the shuffle — the classic low-cardinality
    hash-aggregate that costs one exchange of group rows, never data
    rows. Exact decimal sum keeps the per-bin mass order-independent.
    """
    from iot_sparkstreaming_spark.operators.output import bounded_sort

    ev = load_table(spark, sf_dir, "events")
    bin_c = F.least(
        F.greatest(F.floor(col("value") / HIST_BIN_WIDTH), F.lit(0)),
        F.lit(HIST_N_BINS - 1),
    ).cast("bigint")
    hist = (
        ev.select("event_type", "value", bin_c.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            "bin",
            (col("bin") * HIST_BIN_WIDTH).cast("double").alias("bin_lo"),
            "n",
            "sum_value",
        )
    )
    # bounded output (event types x HIST_N_BINS cells): sorted without
    # the range-sample job + exchange a global orderBy plans
    return bounded_sort(hist, "event_type", "bin")


# ---------------------------------------------------------------------------
# k-core decomposition of the trade graph (degree peeling)
# ---------------------------------------------------------------------------

KCORE_K = 40
KCORE_ITERS = 4


def _kcore_oracle(k: int, iters: int) -> str:
    # AS MATERIALIZED on every CTE: each round references its
    # predecessor 4x, so DuckDB's default inlining would expand the
    # chain EXPONENTIALLY (4^iters scans of the base tables — observed
    # as fd exhaustion); materialization makes it linear, which is
    # also exactly what the Spark side's per-round dataframes do.
    parts = [
        """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""u{i} AS MATERIALIZED (
  SELECT a FROM (SELECT a FROM e{i - 1} UNION ALL SELECT b AS a FROM e{i - 1})
  GROUP BY a HAVING COUNT(*) >= {k}
)"""
        )
        parts.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e{i - 1}.a, e{i - 1}.b FROM e{i - 1}
  JOIN u{i} x ON e{i - 1}.a = x.a
  JOIN u{i} y ON e{i - 1}.b = y.a
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
  CAST(node // 2 AS BIGINT) AS entity_key,
  CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM e{iters} UNION ALL SELECT b AS node FROM e{iters})
GROUP BY node
ORDER BY entity, entity_key
"""
    )


KCORE_ORACLE = _kcore_oracle(KCORE_K, KCORE_ITERS)


@register("kcore_trade_graph", oracle=KCORE_ORACLE)
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = 40) of the undirected customer -
    supplier trade graph — the dense-backbone extraction used for
    community mining and for pruning low-engagement nodes before
    expensive graph algorithms (completes the graph family:
    components, PageRank, triangles, and now coreness; the reference
    has no graph surface at all — SURVEY.md S2.8 absent-category).

    Node encoding matches ``pagerank_trade_graph`` (customer 2c,
    supplier 2s+1, so the bipartite id spaces cannot collide); the
    result decodes back to (entity, entity_key, core_degree).

    Exactness: degree peeling is pure integer arithmetic; the FIXED
    4-round unroll is the cross-engine contract (see
    ``operators.graph.kcore``) — the fixture reaches its fixpoint in
    <= 3 peels (asserted in tests), and peeling is monotone, so 6
    rounds IS the exact 40-core.

    Scale shape: each round is a map-side-combined degree aggregate
    plus a double LEFT SEMI join of edges against survivors — the
    survivor set only shrinks, so per-round cost is non-increasing;
    AQE re-plans each round's exchange with the observed (shrinking)
    sizes and flips the semi-joins to broadcast as the core
    collapses. The edge list shuffles on its endpoint keys, never on
    pair payloads.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build():
        edges = _trade_pairs(spark, sf_dir)
        core = kcore(edges, KCORE_K, KCORE_ITERS)
        # memoized like the other iterative-graph artifacts (pagerank,
        # LPA): the coreness table is built once per (session, sf_dir)
        return core.select(
            F.when(col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("entity"),
            F.expr("node div 2").cast("bigint").alias("entity_key"),
            col("deg").cast("bigint").alias("core_degree"),
        )

    return artifact_memo(spark, ("kcore_trade_graph", sf_dir), build).orderBy(
        "entity", "entity_key"
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov behavior model)
# ---------------------------------------------------------------------------

TRANSITION_ORACLE = """
WITH nxt AS (
  SELECT user_id, event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM nxt WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM c
ORDER BY from_type, to_type
"""


@register("event_transition_matrix", oracle=TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every (from_type, to_type) pair, how often does one
    follow the other within a user's timeline, and with what
    conditional probability? The behavioral model behind
    next-action prediction and anomalous-session detection
    (``workingTest.scala`` never orders events at all — SURVEY.md
    S2.8 absent-category; shares the one-sort-per-user skeleton with
    ``acf_user_value``).

    Exactness: counts are integers; p is ONE bigint-to-double
    division against a window SUM of bigints, identical on both
    engines (no float accumulation). Deterministic sequence order via
    the (ts, event_id) tie-break.

    Scale shape: one exchange on user_id for the lead() window, then
    a (|types|^2)-group hash aggregate that collapses map-side — the
    shuffle moves at most a few hundred rows per partition. The
    normalizing window runs over the tiny aggregated matrix, never
    the events.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(col("to_type").isNotNull())
    from iot_sparkstreaming_spark.operators.output import bounded_sort

    c = nxt.groupBy("from_type", "to_type").agg(F.count("*").cast("bigint").alias("n"))
    matrix = c.select(
        "from_type",
        "to_type",
        "n",
        (col("n").cast("double") / F.sum("n").over(Window.partitionBy("from_type"))).alias("p"),
    )
    # bounded output (|types|^2 matrix cells): sorted without the
    # range-sample job + exchange a global orderBy plans
    return bounded_sort(matrix, "from_type", "to_type")


# ---------------------------------------------------------------------------
# Rolling OLS trend slope (bounded-frame exact regression)
# ---------------------------------------------------------------------------

TREND_FRAME = 10  # trailing frame length (full frames only)
#: n·Σx² − (Σx)² for n consecutive integer x positions: n²(n²−1)/12
_TREND_DENOM = TREND_FRAME * TREND_FRAME * (TREND_FRAME * TREND_FRAME - 1) // 12

TREND_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
    CAST(ROUND(value * 10000) AS BIGINT) AS vc,
    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts, value, rn,
    CAST(SUM(rn) OVER f AS BIGINT) AS sx,
    CAST(SUM(vc) OVER f AS BIGINT) AS sy,
    CAST(SUM(rn * vc) OVER f AS BIGINT) AS sxy,
    CAST(SUM(rn * rn) OVER f AS BIGINT) AS sx2
  FROM o
  WINDOW f AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {TREND_FRAME - 1} PRECEDING AND CURRENT ROW
  )
)
SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
  CAST({TREND_FRAME} * sxy - sx * sy AS DOUBLE) / {_TREND_DENOM * 10000}.0 AS trend_slope
FROM s WHERE rn >= {TREND_FRAME}
"""


@register("rolling_trend_slope", oracle=TREND_ORACLE)
def rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend: the least-squares slope of each user's last
    {N} values against their sequence position — the per-entity trend
    detector monitoring stacks pair with ``anomaly_zscore_events``
    (level breaks) and ``ewma_user_value`` (smoothing). Slope is
    shift-invariant in x, so the absolute row_number serves as the
    regressor; over a FULL frame of {N} consecutive positions the
    denominator n·Σx² − (Σx)² is the constant n²(n²−1)/12, leaving

        slope = (n·Σxy − Σx·Σy) / (n²(n²−1)/12 · scale)

    — an all-bigint numerator (value×10⁴ integers, window sums far
    inside int64) made a double by ONE final division, bit-identical
    across engines; partial leading frames are excluded by the same
    row_number that shares the sort.

    Scale shape: ONE user_id exchange and ONE sort serve both window
    passes — the frame window orders by the same (ts, event_id) key
    as the row_number pass, so the second Window node rides the
    first's sort with no re-sort; O(frame) state per row, everything
    else per-row arithmetic in codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(col("value") * 10000).cast("bigint")
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        vc.alias("vc"),
        F.row_number().over(wr).cast("bigint").alias("rn"),
    )
    # frame window keyed by the SAME (ts, event_id) order as the
    # row_number pass (rn order is identical by construction), so both
    # Window nodes share one sort — no partition-local re-sort.
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(TREND_FRAME - 1), 0)
    )
    s = o.select(
        "user_id",
        "event_id",
        "value",
        "rn",
        F.sum("rn").over(f).cast("bigint").alias("sx"),
        F.sum("vc").over(f).cast("bigint").alias("sy"),
        F.sum(col("rn") * col("vc")).over(f).cast("bigint").alias("sxy"),
        F.sum(col("rn") * col("rn")).over(f).cast("bigint").alias("sx2"),
    )
    return s.filter(col("rn") >= TREND_FRAME).select(
        "user_id",
        "event_id",
        col("value").cast("double").alias("value"),
        (
            (F.lit(TREND_FRAME) * col("sxy") - col("sx") * col("sy")).cast("double")
            / F.lit(float(_TREND_DENOM * 10000))
        ).alias("trend_slope"),
    )


rolling_trend_slope.__doc__ = rolling_trend_slope.__doc__.replace("{N}", str(TREND_FRAME))


# ---------------------------------------------------------------------------
# Equi-depth histogram (quartile buckets by rank, exact)
# ---------------------------------------------------------------------------

EQUIDEPTH_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
  CAST(((rn - 1) * 4) // n AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_bucket,
  MIN(value) AS lo,
  MAX(value) AS hi
FROM ranked
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


@register("value_equidepth_bins_events", oracle=EQUIDEPTH_ORACLE)
def value_equidepth_bins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: per event type, split the value
    distribution into four rank-quartile buckets (equal row counts,
    data-dependent boundaries) and report each bucket's population and
    [lo, hi] range — the optimizer's-histogram / boxplot companion to
    ``value_histogram_events``' fixed-width bins. Bucket assignment is
    pure integer rank arithmetic (floor((rn-1)·4 / n)), exact on both
    engines, with the same (value, event_id) tie-break that makes the
    ranking itself deterministic.

    Scale shape: a two-level prefix scan (operators/prefix.py — the
    cusum discipline): the rank window runs per (event_type, monotone
    value-shard) so parallelism scales with executors instead of the
    5-value type cardinality, broadcast per-shard offsets reconstruct
    the exact global rank, then a (types × 4)-group map-side-combined
    aggregate. Measured 10.4 s -> 2.6 s at 100x the bench SF
    (docs/SCALING.md) at the cost of ~0.5 s of fixed two-level
    overhead at fixture scale; output bitwise identical to the
    single-window form. percentile_approx remains the documented
    sketch path when exact ranks are not required.
    """
    from iot_sparkstreaming_spark.operators.prefix import two_level_prefix

    ev = load_table(spark, sf_dir, "events")
    ranked = two_level_prefix(
        spark,
        ev.select("event_type", "value", "event_id"),
        part="event_type",
        order_num=col("value"),
        tiebreaks=["event_id"],
    )
    from iot_sparkstreaming_spark.operators.output import bounded_sort

    bins = (
        ranked.select(
            "event_type",
            "value",
            F.expr("((rn - 1) * 4) div n").cast("bigint").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_bucket"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )
    # bounded output (event types x 4 quartile buckets): sorted without
    # the range-sample job + exchange a global orderBy plans (measured
    # 0.94 -> 0.71 s isolated at sf0.1)
    return bounded_sort(bins, "event_type", "bucket")


# ---------------------------------------------------------------------------
# Interval union coverage (sweep-line over per-user activity windows)
# ---------------------------------------------------------------------------

COVERAGE_WINDOW_MS = 300 * 1000

COVERAGE_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id,
    epoch_ms(ts) AS s,
    epoch_ms(ts) + {COVERAGE_WINDOW_MS} AS e
  FROM events
),
sweep AS (
  SELECT user_id, s, e,
    MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
  FROM iv
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_intervals,
  CAST(SUM(CASE WHEN prev_e IS NULL OR s >= prev_e THEN 1 ELSE 0 END) AS BIGINT)
    AS n_segments,
  CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(prev_e, s)))) AS BIGINT)
    AS covered_ms
FROM sweep
GROUP BY user_id
"""


@register("interval_coverage_user", oracle=COVERAGE_ORACLE)
def interval_coverage_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping activity intervals per user — each
    event opens a 5-minute window; the query reports how much
    wall-clock each user actually covered (plus the merged-segment
    count), the utilization/SLA measure the reference's per-event
    stream (`workingTest.scala:56-66` fitbit telemetry) can't answer
    without interval semantics.

    Classic sweep-line, expressed relationally: sort each user's
    intervals by start, carry MAX(end) over the strict-past frame, and
    a new covered stripe is `end - max(start, prev_max_end)` clamped
    at zero. Everything is exact epoch-millis integer arithmetic.

    Scale shape: ONE exchange on user_id feeding one sort — the
    window max and the final aggregate both ride it (partial agg
    map-side). No self-join: the naive interval-overlap formulation
    is O(n²) per user; the sweep is O(n log n) and per-row state is
    one bigint, so a 100-TB events table costs exactly its sort.
    """
    from iot_sparkstreaming_spark.operators.intervals import interval_union_coverage

    ev = load_table(spark, sf_dir, "events")
    s = F.unix_millis(col("ts"))
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.lit(COVERAGE_WINDOW_MS)).alias("e"),
    )
    return interval_union_coverage(iv)


# ---------------------------------------------------------------------------
# Chi-squared contingency cells (event_type x value bucket independence)
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type,
    LEAST(4, GREATEST(0, CAST(FLOOR(value / 100.0) AS BIGINT))) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS observed
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, bucket, observed,
    SUM(observed) OVER (PARTITION BY event_type) AS row_total,
    SUM(observed) OVER (PARTITION BY bucket) AS col_total,
    SUM(observed) OVER () AS n
  FROM cells
)
SELECT event_type, bucket, observed,
  CAST(row_total AS BIGINT) AS row_total,
  CAST(col_total AS BIGINT) AS col_total,
  CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
    / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
       * CAST(n AS DOUBLE)) AS chi2_term
FROM (
  SELECT *,
    CAST(observed AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
      - CAST(row_total AS DECIMAL(19,0)) * CAST(col_total AS DECIMAL(19,0))
      AS diff
  FROM tot
)
"""


@register("chi2_contingency_cells", oracle=CHI2_ORACLE)
def chi2_contingency_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-squared contribution for the event_type x
    value-bucket contingency table — the independence test behind
    drift detection and feature-selection over categorical pairs.

    Numeric determinism AND overflow safety: the cell term is the
    exact rational (obs*n - rt*ct)^2 / (rt*ct*n). Every factor is
    cast to DECIMAL(19,0) BEFORE the products (each ≤1e28, riding
    DECIMAL(38,0) exactly on both engines — int64 products would wrap
    past ~3e9 events while DuckDB stays exact in HUGEINT), the exact
    diff is then rounded ONCE to double and squared in IEEE double
    (a decimal square would exceed 38 digits at extreme scale), and
    the denominator is a pure left-associated double product — every
    step identically rounded on both engines. Emitting per-cell rows
    (not SUM over cells) keeps the hash free of summation order.

    Scale shape: one hash-aggregate to the ~25-cell contingency table,
    then three window totals over those 25 rows — the marginals are
    computed on the AGGREGATED cells (constant-size), never on raw
    events. A 100-TB events table costs one map-side-combined groupBy.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(4), F.greatest(F.lit(0), F.floor(col("value") / 100.0))
    ).cast("bigint")
    cells = ev.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("observed"))
    tot = cells.select(
        "event_type",
        "bucket",
        "observed",
        F.sum("observed").over(Window.partitionBy("event_type")).alias("row_total"),
        F.sum("observed").over(Window.partitionBy("bucket")).alias("col_total"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    def d19(name: str):  # exact decimal factor, no int64 wraparound
        return col(name).cast("decimal(19,0)")

    diff = (d19("observed") * d19("n") - d19("row_total") * d19("col_total")).cast(
        "double"
    )
    denom = (
        col("row_total").cast("double")
        * col("col_total").cast("double")
        * col("n").cast("double")
    )
    return tot.select(
        "event_type",
        "bucket",
        "observed",
        col("row_total").cast("bigint").alias("row_total"),
        col("col_total").cast("bigint").alias("col_total"),
        (diff * diff / denom).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) of parts: cheapest price vs largest size
# ---------------------------------------------------------------------------

PARETO_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_name, p_size,
    CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
),
sweep AS (
  SELECT p_partkey, p_name, p_size, price_cents,
    MAX(p_size) OVER (ORDER BY price_cents
                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS best_cheaper,
    MAX(p_size) OVER (PARTITION BY price_cents) AS best_same_price
  FROM p
)
SELECT p_partkey, p_name, p_size, price_cents
FROM sweep
WHERE (best_cheaper IS NULL OR p_size > best_cheaper)
  AND p_size = best_same_price
ORDER BY price_cents, p_partkey
"""


@register("pareto_frontier_parts", oracle=PARETO_ORACLE)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: parts not dominated on (min retail price, max
    size) — a part is dominated if some other part is no more
    expensive AND no smaller, with at least one strict. The classic
    skyline-operator paper shape (Borzsony et al., ICDE'01) reduced to
    two window functions.

    Dominance splits exactly: (a) a STRICTLY cheaper part with size >=
    mine — caught by MAX(size) over the value-range frame ending 1
    cent before mine; (b) an equal-priced part with size strictly
    above mine — caught by the per-price-group max. Prices ride exact
    integer cents so the RANGE frame is integer-valued on both
    engines.

    Scale shape: two-phase skyline (the distributed-skyline
    standard): a SALTED local prune first — dominance is checked
    inside each of 32 hash groups with the identical two windows, and
    any locally-dominated point is globally dominated, so dropping it
    is always safe — then the exact global pass runs on the union of
    local frontiers only. The global window is single-direction
    (Spark's no-partition window), which is exactly why the pre-prune
    matters: it sees ~32 x |frontier| candidate rows, not the table.
    No self-join anywhere — the naive NOT EXISTS dominance test is a
    quadratic anti-join. Output is the frontier (at most one row per
    distinct size value), tiny by construction.
    """
    from iot_sparkstreaming_spark.operators.intervals import pareto_frontier

    part = load_table(spark, sf_dir, "part")
    cents = F.round(col("p_retailprice") * 100).cast("bigint")
    p = part.select("p_partkey", "p_name", "p_size", cents.alias("price_cents"))
    return pareto_frontier(
        p, cost="price_cents", gain="p_size", salt_on="p_partkey"
    ).orderBy("price_cents", "p_partkey")


# ---------------------------------------------------------------------------
# Shuffle-skew diagnostics: the key-distribution report an engine
# operator (or a human) consults before choosing a join strategy
# ---------------------------------------------------------------------------

SKEW_REPORT_ORACLE = """
WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT cnt,
    ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS rn,
    COUNT(*) OVER () AS k,
    SUM(cnt) OVER () AS total
  FROM per_key
)
SELECT
  CAST(MAX(k) AS BIGINT) AS n_keys,
  CAST(MAX(total) AS BIGINT) AS n_rows,
  CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
  CAST(MAX(CASE WHEN rn = (k + 1) // 2 THEN cnt END) AS BIGINT) AS p50_key_rows,
  CAST(MAX(CASE WHEN rn = k - (k - 1) // 10 THEN cnt END) AS BIGINT) AS p90_key_rows,
  CAST(MAX(cnt) AS DOUBLE) * CAST(MAX(k) AS DOUBLE)
    / CAST(MAX(total) AS DOUBLE) AS skew_ratio,
  CAST(2 * SUM(CAST(rn AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0)))
       - (MAX(CAST(k AS DECIMAL(19,0))) + 1) * MAX(CAST(total AS DECIMAL(19,0)))
       AS DOUBLE)
    / (CAST(MAX(k) AS DOUBLE) * CAST(MAX(total) AS DOUBLE)) AS gini
FROM ranked
"""


@register("shuffle_skew_report", oracle=SKEW_REPORT_ORACLE)
def shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew report over events.user_id — the
    diagnostic a planner (or the engineer sizing
    ``spark.sql.shuffle.partitions``) reads before picking
    broadcast/salt/AQE-skew-join for a key: key count, row count,
    max-key population, exact p50/p90 order statistics, the
    max/mean skew ratio, and the Gini coefficient of the key
    histogram (2·Σ rn·cnt − (k+1)·Σcnt) / (k·Σcnt).

    Numeric determinism AND overflow safety: the Gini numerator
    2·Σ rn·cnt − (k+1)·Σcnt accumulates in DECIMAL(38,0) (rn·cnt as a
    decimal product — an int64 accumulation would silently wrap once
    k·Σcnt nears 2^63 while DuckDB stays exact in HUGEINT); the
    ratios are left-associated double products/divisions of
    identically-rounded factors on both engines. The rank ties break
    on user_id so rn·cnt is well-defined.

    Scale shape: groupBy(user_id) collapses 100 TB to one row per
    key (map-side combine); the rank + report run on the collapsed
    histogram. One row out.
    """
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    ranked = per_key.select(
        "cnt",
        F.row_number().over(Window.orderBy("cnt", "user_id")).cast("bigint").alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("k"),
        F.sum("cnt").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    return ranked.agg(
        F.max("k").cast("bigint").alias("n_keys"),
        F.max("total").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        F.max(F.when(col("rn") == F.expr("(k + 1) div 2"), col("cnt")))
        .cast("bigint")
        .alias("p50_key_rows"),
        F.max(F.when(col("rn") == col("k") - F.expr("(k - 1) div 10"), col("cnt")))
        .cast("bigint")
        .alias("p90_key_rows"),
        (
            F.max("cnt").cast("double")
            * F.max("k").cast("double")
            / F.max("total").cast("double")
        ).alias("skew_ratio"),
        (
            (
                F.lit(2)
                * F.sum(col("rn").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)"))
                - (F.max(col("k").cast("decimal(19,0)")) + 1)
                * F.max(col("total").cast("decimal(19,0)"))
            ).cast("double")
            / (F.max("k").cast("double") * F.max("total").cast("double"))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the trade graph (iterative #5)
# ---------------------------------------------------------------------------

LP_ITERS = 3


def _lpa_ctes() -> str:
    """The shared WITH-chain: trade pairs, both-direction edges, and
    LP_ITERS unrolled label-propagation rounds ending at l{LP_ITERS}
    — reused verbatim by the LPA oracle and the modularity oracle so
    both replay the identical community assignment."""
    sql = """
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes)"""
    for i in range(1, LP_ITERS + 1):
        sql += f""",
l{i} AS (
  SELECT node, label FROM (
    SELECT e.b AS node, l.label,
      ROW_NUMBER() OVER (PARTITION BY e.b ORDER BY COUNT(*) DESC, l.label)
        AS rk
    FROM edges e JOIN l{i - 1} l ON e.a = l.node
    GROUP BY e.b, l.label
  ) WHERE rk = 1
)"""
    return sql


def _lpa_oracle() -> str:
    """Unrolled fixed-iteration LPA: each round is one plain CTE
    running the identical argmax update (count DESC, label ASC) the
    Spark loop runs — the same unroll trick as the PageRank oracle."""
    return (
        _lpa_ctes()
        + f"""
SELECT node AS node_id, node % 2 = 1 AS is_supplier,
  CAST(label AS BIGINT) AS community,
  CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l{LP_ITERS}
"""
    )


@register("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the customer–supplier trade graph by
    synchronous label propagation (3 rounds, deterministic
    count-then-min-label argmax) — the clustering companion to
    PageRank's centrality and k-core's density over the same edge
    list (one edge per distinct trading pair, both directions).

    Determinism: the classic LPA random tie-break is replaced by a
    total order (count DESC, label ASC), and the round count is fixed
    — so the result is a pure function of the edge list, and the
    oracle unrolls the identical update into plain CTEs. All counts
    are integers; no floats anywhere.

    Scale: each round shuffles the label frame once onto the cached
    degree-partitioned edge list (operators/graph.py
    label_propagation — repartition+persist keeps the per-round join
    exchange-free on the edge side), then one (node,label) count and
    one per-node argmax window. Hub nodes concentrate label traffic;
    the (node,label) pre-aggregation combines map-side, so the skew
    lands on the same AQE-covered argmax the top-k family uses.
    """
    from iot_sparkstreaming_spark.operators.graph import label_propagation
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build():
        pairs = _trade_pairs(spark, sf_dir)
        edges = pairs.union(pairs.select(col("b").alias("a"), col("a").alias("b")))
        labels = label_propagation(edges, iterations=LP_ITERS)
        # build-once/query-many: the community table is the memoized
        # artifact — the 3-round loop runs once per (session, sf_dir)
        return labels.select(
            col("node").alias("node_id"),
            (col("node") % 2 == 1).alias("is_supplier"),
            col("label").cast("bigint").alias("community"),
            F.count("*")
            .over(Window.partitionBy("label"))
            .cast("bigint")
            .alias("community_size"),
        )

    return artifact_memo(spark, ("label_propagation_communities", sf_dir), build)


# ---------------------------------------------------------------------------
# Point-in-time (AS OF) join of facts against an SCD2 dimension
# ---------------------------------------------------------------------------

PIT_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN event_type IS DISTINCT FROM
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    THEN 1 ELSE 0 END AS chg
  FROM events WHERE event_type <> 'purchase'
),
runs AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
),
collapsed AS (
  SELECT user_id, CAST(run_id AS BIGINT) AS version, event_type,
    MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, run_id, event_type
),
dim AS (
  SELECT user_id, version, event_type, valid_from,
    LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
  FROM collapsed
),
facts AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id,
  CAST(epoch_ms(f.ts) AS BIGINT) AS ts_ms,
  d.version, d.event_type AS active_state,
  CAST(epoch_ms(f.ts) - epoch_ms(d.valid_from) AS BIGINT) AS version_age_ms
FROM facts f JOIN dim d
  ON f.user_id = d.user_id AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


@register("scd2_point_in_time_join", oracle=PIT_ORACLE)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness: join each purchase to the SCD2
    version of the user's NON-purchase activity state that was valid
    when the purchase happened ([valid_from, valid_to) containment) —
    the feature-store lookup that prevents label leakage: a model
    scoring the purchase may only see dimension attributes AS OF the
    event time, never later versions.

    The dimension is the same gaps-and-islands build as
    ``scd2_user_dimension`` restricted to non-purchase events; facts
    that precede a user's first dimension version drop out (inner
    join), exactly as a feature store would decline to serve them.

    Scale shape: the dimension build is ONE user_id exchange
    (subset-clustered windows); the PIT join is an EQUI join on
    user_id with the interval containment as a residual row-local
    filter — per-user version chains are short, so the residual
    never explodes, and no range-bucketing machinery is needed. At
    100 TB both sides arrive hash-partitioned on user_id and the
    fact table shuffles once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.filter(col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(~col("event_type").eqNullSafe(F.lag("event_type").over(w)), 1)
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    collapsed = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from")
    )
    dim = collapsed.select(
        col("user_id").alias("d_user_id"),
        col("run_id").cast("bigint").alias("version"),
        col("event_type").alias("active_state"),
        "valid_from",
        F.lead("valid_from").over(Window.partitionBy("user_id").orderBy("run_id")).alias(
            "valid_to"
        ),
    )
    facts = ev.filter(col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    joined = facts.join(
        dim,
        (col("user_id") == col("d_user_id"))
        & (col("ts") >= col("valid_from"))
        & (col("valid_to").isNull() | (col("ts") < col("valid_to"))),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis(col("ts")).cast("bigint").alias("ts_ms"),
        "version",
        "active_state",
        (F.unix_millis(col("ts")) - F.unix_millis(col("valid_from")))
        .cast("bigint")
        .alias("version_age_ms"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: two-proportion z-test on conversion
# ---------------------------------------------------------------------------

AB_TEST_ORACLE = """
WITH u AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' AND value >= 400 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
c AS (
  SELECT user_id % 2 AS cohort, COUNT(*) AS n, SUM(converted) AS conv
  FROM u GROUP BY 1
),
w AS (
  SELECT
    CAST(MAX(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_a,
    CAST(MAX(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_b,
    CAST(MAX(CASE WHEN cohort = 0 THEN conv END) AS BIGINT) AS conv_a,
    CAST(MAX(CASE WHEN cohort = 1 THEN conv END) AS BIGINT) AS conv_b
  FROM c
)
SELECT n_a, n_b, conv_a, conv_b,
  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
  (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
    / NULLIF(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
           * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
           * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 0) AS z_stat
FROM w
"""


@register("ab_test_conversion", oracle=AB_TEST_ORACLE)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: split users into cohorts by user_id parity
    (the deterministic stand-in for an assignment table), measure
    high-value-purchase conversion (value >= 400) per cohort, and compute the two-proportion
    pooled z-statistic — the launch/no-launch number an A/B platform
    prints.

    Numeric determinism: counts are exact bigints; rates and the
    z-stat are ONE identical arithmetic expression over those ints on
    both engines — divisions and sqrt are IEEE-correctly-rounded, no
    libm transcendentals. A degenerate experiment (pooled rate 0 or
    1, or an empty cohort) yields z_stat NULL via the NULLIF guard
    instead of an ANSI divide-by-zero.

    Scale shape: per-user conversion is a map-side-combined groupBy
    on user_id; cohort totals collapse 2 rows; the statistic is
    driver-free scalar arithmetic on a 1-row frame. A 100-TB events
    table costs exactly one user_id aggregation — and that exchange
    is shared with every other per-user query in the engine.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((col("event_type") == "purchase") & (col("value") >= 400), 1)
            .otherwise(0)
        ).alias("converted")
    )
    c = u.groupBy((col("user_id") % 2).alias("cohort")).agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    w = c.agg(
        F.max(F.when(col("cohort") == 0, col("n"))).cast("bigint").alias("n_a"),
        F.max(F.when(col("cohort") == 1, col("n"))).cast("bigint").alias("n_b"),
        F.max(F.when(col("cohort") == 0, col("conv"))).cast("bigint").alias("conv_a"),
        F.max(F.when(col("cohort") == 1, col("conv"))).cast("bigint").alias("conv_b"),
    )
    ra = col("conv_a").cast("double") / col("n_a")
    rb = col("conv_b").cast("double") / col("n_b")
    pp = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    return w.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        (
            (ra - rb)
            / F.nullif(
                F.sqrt(
                    pp
                    * (F.lit(1) - pp)
                    * (
                        F.lit(1).cast("double") / col("n_a")
                        + F.lit(1).cast("double") / col("n_b")
                    )
                ),
                F.lit(0.0),
            )
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Survival analysis: signup -> first purchase hazard table (with censoring)
# ---------------------------------------------------------------------------

SURVIVAL_DAY_MS = 86400000

SURVIVAL_ORACLE = f"""
WITH t0 AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN t0 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t0.signup_ts
  GROUP BY e.user_id
),
last_seen AS (
  SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
),
subjects AS (
  SELECT t0.user_id,
    CASE WHEN c.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS event,
    CASE WHEN c.purchase_ts IS NOT NULL
         THEN epoch_ms(c.purchase_ts) - epoch_ms(t0.signup_ts)
         ELSE epoch_ms(l.last_ts) - epoch_ms(t0.signup_ts) END AS duration_ms
  FROM t0
  LEFT JOIN conv c ON t0.user_id = c.user_id
  JOIN last_seen l ON t0.user_id = l.user_id
),
buckets AS (
  SELECT duration_ms // {SURVIVAL_DAY_MS} AS day_bucket,
    CAST(SUM(event) AS BIGINT) AS n_events,
    CAST(SUM(1 - event) AS BIGINT) AS n_censored
  FROM subjects GROUP BY 1
),
risk AS (
  SELECT day_bucket, n_events, n_censored,
    (SELECT COUNT(*) FROM subjects)
      - COALESCE(SUM(n_events + n_censored) OVER (
          ORDER BY day_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS n_at_risk
  FROM buckets
)
SELECT CAST(day_bucket AS BIGINT) AS day_bucket,
  CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events, n_censored,
  CAST(n_events AS DOUBLE) / n_at_risk AS hazard
FROM risk
"""


@register("survival_signup_to_purchase", oracle=SURVIVAL_ORACLE)
def survival_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival (hazard) table for signup → first
    purchase with RIGHT CENSORING — the time-to-conversion analysis
    behind retention forecasts and the Kaplan-Meier curve (whose
    survival estimate is the running product of ``1 - hazard``; the
    per-bucket exact table is what's emitted, keeping the output
    float-product-free and hash-exact). Users who never convert are
    censored at their last observed event — dropping them (the naive
    "average time to convert") biases the estimate toward fast
    converters.

    Per day-bucket since signup: subjects still at risk, conversion
    events, censorings, and the discrete hazard d/n (one IEEE
    division of exact bigints; n > 0 whenever the bucket exists).

    Scale shape: three user_id aggregations (signup anchor,
    first-qualifying-purchase, last-seen) sharing one hash
    partitioning, collapsed to subjects then to ~tens of buckets; the
    at-risk count is a running window over the BUCKET table, never
    over subjects. One events-scale shuffle total.
    """
    ev = load_table(spark, sf_dir, "events")
    t0 = (
        ev.filter(col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    conv = (
        ev.filter(col("event_type") == "purchase")
        .join(t0, "user_id")
        .filter(col("ts") > col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    last_seen = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    subjects = (
        t0.join(conv, "user_id", "left")
        .join(last_seen, "user_id")
        .select(
            F.when(col("purchase_ts").isNotNull(), 1).otherwise(0).alias("event"),
            F.when(
                col("purchase_ts").isNotNull(),
                F.unix_millis(col("purchase_ts")) - F.unix_millis(col("signup_ts")),
            )
            .otherwise(F.unix_millis(col("last_ts")) - F.unix_millis(col("signup_ts")))
            .alias("duration_ms"),
        )
    )
    buckets = subjects.groupBy(
        F.expr(f"duration_ms div {SURVIVAL_DAY_MS}").alias("day_bucket")
    ).agg(
        F.sum("event").cast("bigint").alias("n_events"),
        F.sum(F.lit(1) - col("event")).cast("bigint").alias("n_censored"),
    )
    total = subjects.agg(F.count("*").alias("n_total"))
    w = Window.orderBy("day_bucket").rowsBetween(Window.unboundedPreceding, -1)
    risk = buckets.crossJoin(F.broadcast(total)).select(
        "day_bucket",
        "n_events",
        "n_censored",
        (
            col("n_total")
            - F.coalesce(F.sum(col("n_events") + col("n_censored")).over(w), F.lit(0))
        ).alias("n_at_risk"),
    )
    return risk.select(
        col("day_bucket").cast("bigint").alias("day_bucket"),
        col("n_at_risk").cast("bigint").alias("n_at_risk"),
        "n_events",
        "n_censored",
        (col("n_events").cast("double") / col("n_at_risk")).alias("hazard"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the trade graph (graph-level statistic)
# ---------------------------------------------------------------------------

ASSORT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY a),
j AS (
  SELECT da.deg AS x, db.deg AS y
  FROM edges e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx2,
    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy2
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
  sx / n AS mean_src_degree,
  (n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    AS assortativity
FROM m
"""


@register("graph_assortativity_trade", oracle=ASSORT_ORACLE)
def graph_assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier trade graph —
    the Pearson correlation of endpoint degrees over the (directed,
    both-ways) edge list (Newman 2002): negative values mean hubs
    attach to low-degree nodes (typical bipartite trade shape),
    positive means hub-hub clustering. The one-number structural
    summary read before choosing skew strategies for graph joins.

    Exactness: degrees are integers; all five moments accumulate as
    exact decimals and combine in ONE identical double expression per
    engine (same moment-form discipline as ``stats_correlation``).

    Scale shape (restructured round 16 — the edge list crossed the
    wire twice): the distinct trading pairs come from the shared
    memoized ``_trade_pairs`` artifact (one fact join + distinct per
    session, shared with PageRank/k-core/LPA); then one degree
    aggregate (map-side combined). The edge list is SYMMETRIC by
    construction (both directions present), so the edge-level moment
    sums collapse to NODE-level sums: every node is the source of
    exactly ``deg`` directed edges, each contributing ``x = deg``, so
    n = Σ deg, sx = sy = Σ deg², sx2 = sy2 = Σ deg³ — all exact
    integer identities, no join needed. Only the cross moment
    sxy = Σ_edges deg_a·deg_b needs edge-level pairing: ONE join of
    the degree table onto edges (on the neighbor key), collapsed
    map-side to one row per source node — and that group's row count
    IS the source degree, so the single aggregate yields both deg(a)
    and the neighbor-degree sum, and the degree subtree is planned
    once. The edge list crosses the wire once (the old shape joined
    degrees onto edges twice, built the degree table twice, and ran
    the moment aggregate over the edge-sized joined table; past the
    broadcast threshold both joins planned as sort-merge with the
    edge list exchanged on each key in turn — measured 4.2x
    wall-growth at the 10x fixture). Every sum is an exact decimal
    of the same integers, so the final doubles — the same closing
    expression as before — are bitwise identical.
    """
    pairs = _trade_pairs(spark, sf_dir)
    edges = pairs.union(pairs.select(col("b").alias("a"), col("a").alias("b")))
    deg = edges.groupBy(col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — house cast
    # ONE join of the degree table onto edges (on the neighbor key),
    # collapsed map-side to one row per source node. The group's row
    # COUNT is the source degree itself (node a owns exactly deg(a)
    # edge rows), so this single aggregate yields both x = deg(a) and
    # the neighbor-degree sum — the degree subtree is referenced once
    # and no join back is needed.
    node = (
        edges.join(deg.select(col("node").alias("b"), col("deg").alias("y")), "b")
        .groupBy("a")
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(d19(col("y"))).alias("sy_nbr"),
        )
    )
    m = node.agg(
        # coalesce: the old form's count(*) yielded 0 on an empty edge
        # list where sum() yields NULL — keep that row identical too
        F.coalesce(F.sum("x"), F.lit(0)).cast("double").alias("n"),
        F.sum(d19(col("x")) * d19(col("x"))).cast("double").alias("sx"),
        F.sum(d19(col("x")) * d19(col("x"))).cast("double").alias("sy"),
        F.sum(d19(col("x")) * col("sy_nbr")).cast("double").alias("sxy"),
        F.sum(d19(col("x")) * d19(col("x")) * d19(col("x")))
        .cast("double")
        .alias("sx2"),
        F.sum(d19(col("x")) * d19(col("x")) * d19(col("x")))
        .cast("double")
        .alias("sy2"),
    )
    return m.select(
        col("n").cast("bigint").alias("n_directed_edges"),
        (col("sx") / col("n")).alias("mean_src_degree"),
        (
            (col("n") * col("sxy") - col("sx") * col("sy"))
            / F.sqrt(
                (col("n") * col("sx2") - col("sx") * col("sx"))
                * (col("n") * col("sy2") - col("sy") * col("sy"))
            )
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Distribution drift report between time halves (PSI-style, log-free)
# ---------------------------------------------------------------------------

DRIFT_ORACLE = """
WITH bounds AS (
  SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS mid FROM events
),
bucketed AS (
  SELECT LEAST(4, GREATEST(0, CAST(FLOOR(value / 100.0) AS BIGINT))) AS bucket,
    CASE WHEN epoch_ms(ts) < bounds.mid THEN 1 ELSE 0 END AS early
  FROM events, bounds
),
cells AS (
  SELECT bucket,
    CAST(SUM(early) AS BIGINT) AS n_early,
    CAST(SUM(1 - early) AS BIGINT) AS n_late
  FROM bucketed GROUP BY bucket
),
tot AS (
  SELECT bucket, n_early, n_late,
    SUM(n_early) OVER () AS te, SUM(n_late) OVER () AS tl
  FROM cells
)
SELECT bucket, n_early, n_late,
  CAST(n_early AS DOUBLE) / te AS share_early,
  CAST(n_late AS DOUBLE) / tl AS share_late,
  ABS(CAST(n_early AS DOUBLE) / te - CAST(n_late AS DOUBLE) / tl)
    AS share_drift
FROM tot
"""


@register("value_drift_report", oracle=DRIFT_ORACLE)
def value_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report: compare the event-value histogram
    of the EARLY time half against the LATE half (split at the
    integer midpoint of the observed epoch range) — per bucket,
    counts, shares, and the absolute share delta. The per-bin view
    behind PSI/KL drift monitors, kept log-free so every number is an
    exact count or a single IEEE division and the report hash-checks
    exactly (the monitor thresholds |Δshare|, which is monotone in
    each bin's PSI term).

    Scale shape: the epoch bounds collapse to one broadcast row; the
    histogram is one map-side-combined groupBy to ≤5 cells; the share
    windows run over those cells only. Two scans total (bounds +
    histogram) — or one, if the table's min/max ride file footers.
    """
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(col("ts"))
    bounds = ev.agg(
        ((F.min(ms) + F.max(ms)) / F.lit(2)).cast("bigint").alias("mid")
    )
    bucket = F.least(
        F.lit(4), F.greatest(F.lit(0), F.floor(col("value") / 100.0))
    ).cast("bigint")
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            F.when(ms < col("mid"), 1).otherwise(0).alias("early"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("early").cast("bigint").alias("n_early"),
            F.sum(F.lit(1) - col("early")).cast("bigint").alias("n_late"),
        )
    )
    tot = cells.select(
        "*",
        F.sum("n_early").over(Window.partitionBy()).alias("te"),
        F.sum("n_late").over(Window.partitionBy()).alias("tl"),
    )
    se = col("n_early").cast("double") / col("te")
    sl = col("n_late").cast("double") / col("tl")
    return tot.select(
        "bucket",
        "n_early",
        "n_late",
        se.alias("share_early"),
        sl.alias("share_late"),
        F.abs(se - sl).alias("share_drift"),
    )


# ---------------------------------------------------------------------------
# Salted shuffle join (the skew-join demo the salted_join operator backs)
# ---------------------------------------------------------------------------

SALTED_JOIN_ORACLE = """
SELECT c_mktsegment AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@register("salted_skew_join_events", oracle=SALTED_JOIN_ORACLE)
def salted_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ customer-segment dimension executed through
    ``operators.skew.salted_join`` — the explicit skew-spread shuffle
    join for the regime where the dimension fits replicated
    ``n_salts``-fold but not broadcast, and a hot fact key would
    otherwise pin one reducer (AQE splits oversized partitions, but a
    single hot KEY is one partition by definition; the salt is what
    splits it). The fact side salts on event_id (deterministic hash,
    not rand() — retried tasks must re-produce identical salt), the
    dimension explodes 16-fold, the join key becomes (user_id, salt).

    The oracle is the PLAIN inner join + aggregate: salting preserves
    row multiplicity exactly, which is precisely the property under
    test. Per-segment sums accumulate exact decimals.

    Scale shape: one shuffle of the fact on (user_id, salt) — the hot
    user's rows now land on 16 reducers — and a 16× dimension
    replication, still dim-sized. The aggregate rides map-side
    combine to 5 rows. At 100 TB the alternative plans are broadcast
    (dimension small enough) or AQE skew-split (hot PARTITION, not
    hot key); this operator covers the gap between them.
    """
    from iot_sparkstreaming_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, key="user_id", salt_from="event_id", n_salts=16)
    return joined.groupBy(col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(col("value").cast("decimal(38,4)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) over irregularly-sampled per-user series
# ---------------------------------------------------------------------------

TWAP_ORACLE = """
WITH seg AS (
  SELECT user_id, epoch_ms(ts) AS ms, value,
    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_intervals,
  CAST(SUM(nxt - ms) AS BIGINT) AS span_ms,
  CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(nxt - ms AS DECIMAL(19,0))) AS DOUBLE)
    / NULLIF(CAST(SUM(nxt - ms) AS DOUBLE), 0) AS twap
FROM seg WHERE nxt IS NOT NULL
GROUP BY user_id
"""


@register("time_weighted_avg_user", oracle=TWAP_ORACLE)
def time_weighted_avg_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user over an
    IRREGULARLY-sampled event series — each reading holds until the
    next one, so its weight is the millisecond gap to the successor
    (the TWAP every market-data / sensor pipeline computes; a plain
    AVG over-weights bursts). The last reading per user has no
    successor and carries zero weight.

    Numeric determinism: value·gap products accumulate as exact
    decimals (value is exact at 4 decimal places, the gap is integer
    millis), with ONE double division at the end, NULLIF-guarded for
    the all-ties degenerate series (span 0 ⇒ NULL on both engines).

    Scale shape: one exchange on user_id feeds the lead window AND
    the final aggregate (same partitioning, no second shuffle);
    per-row state is one lead value. 100 TB of events costs its sort.
    """
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(col("ts"))
    # Order by the FULL-precision timestamp (then event_id), exactly as
    # the oracle's ORDER BY ts, event_id — ordering by the truncated
    # millis column would pair same-user events landing in one
    # millisecond with a different successor than the oracle whenever
    # event_id order disagrees with sub-ms ts order.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select("user_id", "event_id", "ts", ms.alias("ms"), "value")
        .withColumn("nxt", F.lead("ms").over(w))
        .filter(col("nxt").isNotNull())
    )
    dt = col("nxt") - col("ms")
    weighted = col("value").cast("decimal(18,4)") * dt.cast("decimal(19,0)")
    return seg.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum(dt).cast("bigint").alias("span_ms"),
        (
            F.sum(weighted).cast("double")
            / F.nullif(F.sum(dt).cast("double"), F.lit(0.0))
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median absolute deviation (MAD) per user
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH r1 AS (
  SELECT user_id, event_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
med AS (
  SELECT user_id,
    MAX(CASE WHEN rn = CAST(CEIL(n / 2.0) AS BIGINT) THEN value END) AS med
  FROM r1 GROUP BY user_id
),
d AS (
  SELECT e.user_id, e.event_id, e.value, m.med, ABS(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.user_id = m.user_id
),
r2 AS (
  SELECT user_id, event_id, dev,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM d
),
mad AS (
  SELECT user_id,
    MAX(CASE WHEN rn = CAST(CEIL(n / 2.0) AS BIGINT) THEN dev END) AS mad
  FROM r2 GROUP BY user_id
)
SELECT d.user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  MAX(d.med) AS median,
  MAX(a.mad) AS mad,
  CAST(SUM(CASE WHEN d.dev > 3 * 1.4826 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers
FROM d JOIN mad a ON d.user_id = a.user_id
GROUP BY d.user_id
"""


@register("mad_outlier_per_user", oracle=MAD_ORACLE)
def mad_outlier_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier report via Median Absolute Deviation —
    the z-score alternative (``anomaly_zscore_events``) whose center
    and spread a single wild reading CANNOT drag, which is exactly
    when you need outlier detection. Flags readings with
    |v − median| > 3·1.4826·MAD (1.4826 scales MAD to σ under
    normality).

    Cross-engine exactness: medians are LOWER-median order statistics
    (rn = ceil(n/2) — the house percentile pattern, no interpolation
    ambiguity); deviations are single double subtractions; the flag
    threshold folds constants identically on both engines. Deviation
    ties (v = med ± x) break on event_id.

    Scale shape: everything partitions by user_id — two rank windows
    and two joins all ride the SAME exchange (median table is
    user-count-sized, so its joins are broadcastable); no global
    sort, no driver state. The two passes are inherent: MAD is a
    median OF deviations from a median.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    wn = Window.partitionBy("user_id")

    def lower_median(df: DataFrame, order_col: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(order_col, "event_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .filter(col("rn") == F.ceil(col("n") / 2.0).cast("bigint"))
            .select("user_id", col(order_col).alias(out))
        )

    med = lower_median(ev, "value", "med")
    d = ev.join(med, "user_id").withColumn("dev", F.abs(col("value") - col("med")))
    mad = lower_median(d.select("user_id", "event_id", "dev"), "dev", "mad")
    return (
        d.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("med").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(col("dev") > F.lit(3) * F.lit(1.4826) * col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Decile lift table over customer spend (NTILE + cumulative shares)
# ---------------------------------------------------------------------------

DECILE_LIFT_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
dec AS (
  SELECT o_custkey, cents,
    NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM spend
),
agg AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
    CAST(SUM(cents) AS BIGINT) AS decile_cents
  FROM dec GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_customers, decile_cents,
  CAST(SUM(decile_cents) OVER (ORDER BY decile) AS DOUBLE)
    / CAST(SUM(decile_cents) OVER () AS DOUBLE) AS cum_share,
  (CAST(decile_cents AS DOUBLE) / CAST(n_customers AS DOUBLE))
    / (CAST(SUM(decile_cents) OVER () AS DOUBLE)
       / CAST(SUM(n_customers) OVER () AS DOUBLE)) AS lift
FROM agg
"""


@register("decile_lift_orders", oracle=DECILE_LIFT_ORACLE)
def decile_lift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table over customer spend — rank customers into 10
    spend deciles (NTILE over exact cents, ties broken by custkey for
    a total order) and report each decile's size, revenue, cumulative
    revenue share, and lift (decile mean ÷ population mean): the
    standard campaign-targeting / whale-analysis readout.

    Numeric determinism: spend is exact integer cents end-to-end;
    the two ratios are divisions of exactly-computed integers cast to
    double in a fixed association.

    Scale shape: the fact table collapses to one row per customer
    first (map-side-combined groupBy); the NTILE window then sorts
    the DIMENSION-sized spend table — fine for any realistic customer
    count. For deciles over raw fact rows, use the sampled-bounds
    pattern (``approx_quantile_bounds``) instead of a global sort;
    the docstring contrast is the point of keeping both.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(col("o_totalprice") * 100).cast("bigint")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    dec = spend.select(
        "o_custkey",
        "cents",
        F.ntile(10)
        .over(Window.orderBy(col("cents").desc(), "o_custkey"))
        .alias("decile"),
    )
    agg = dec.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    w_cum = Window.orderBy("decile")
    w_all = Window.partitionBy()
    return agg.select(
        col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "decile_cents",
        (
            F.sum("decile_cents").over(w_cum).cast("double")
            / F.sum("decile_cents").over(w_all).cast("double")
        ).alias("cum_share"),
        (
            (col("decile_cents").cast("double") / col("n_customers").cast("double"))
            / (
                F.sum("decile_cents").over(w_all).cast("double")
                / F.sum("n_customers").over(w_all).cast("double")
            )
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Seasonal hour-of-week baseline (calendar-free integer bucketing)
# ---------------------------------------------------------------------------

SEASONAL_HOW_ORACLE = """
WITH cells AS (
  SELECT event_type, (epoch_ms(ts) // 3600000) % 168 AS hour_of_week,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    SUM(CAST(value AS DECIMAL(38,4))) AS sv
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(hour_of_week AS BIGINT) AS hour_of_week, n_events,
  CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE) AS mean_value,
  (CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE))
    / NULLIF(CAST(SUM(sv) OVER (PARTITION BY event_type) AS DOUBLE)
             / CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE), 0)
    AS seasonal_index
FROM cells
"""


@register("seasonal_hour_of_week", oracle=SEASONAL_HOW_ORACLE)
def seasonal_hour_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonal profile per event type: mean value and
    seasonal index (cell mean ÷ type mean) for each of the 168 weekly
    hours — the baseline a seasonal anomaly detector or a
    capacity-planning dashboard subtracts before looking for drift.

    The bucket is CALENDAR-FREE integer arithmetic — hours since
    epoch mod 168 (epoch-origin week) — because calendar functions
    are where engines disagree (DuckDB's dayofweek is 0-Sunday,
    Spark's 1-Sunday, and both have timezone knobs); integer division
    of epoch millis is identical everywhere.

    Numeric determinism: per-cell sums are exact decimals; the type
    marginals are window sums over the 168·|types| AGGREGATED cells
    (decimal, exact); means and the index are fixed-association
    double divisions, NULLIF-guarded for a zero-sum type.

    Scale shape: one map-side-combined groupBy collapses the fact
    table to ≤168·|types| cells; the windows ride those cells. 100 TB
    in, ~840 rows shuffled.
    """
    ev = load_table(spark, sf_dir, "events")
    # integral `div`, not `/`: double division of epoch millis can
    # round across the bucket boundary; DuckDB's // is exact too.
    how = F.expr("unix_millis(ts) div 3600000") % 168
    cells = ev.groupBy(
        "event_type", how.alias("hour_of_week")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(col("value").cast("decimal(38,4)")).alias("sv"),
    )
    wt = Window.partitionBy("event_type")
    mean_v = col("sv").cast("double") / col("n_events").cast("double")
    type_mean = F.sum("sv").over(wt).cast("double") / F.sum("n_events").over(wt).cast(
        "double"
    )
    return cells.select(
        "event_type",
        col("hour_of_week").cast("bigint").alias("hour_of_week"),
        "n_events",
        mean_v.alias("mean_value"),
        (mean_v / F.nullif(type_mean, F.lit(0.0))).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity of event types per user (log-free entropy analog)
# ---------------------------------------------------------------------------

SIMPSON_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
  CAST(SUM(n) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  1 - CAST(SUM(CAST(n AS DECIMAL(19,0)) * (CAST(n AS DECIMAL(19,0)) - 1))
           AS DOUBLE)
      / NULLIF(CAST(CAST(SUM(n) AS DECIMAL(19,0))
                    * (CAST(SUM(n) AS DECIMAL(19,0)) - 1) AS DOUBLE), 0)
    AS simpson
FROM c
GROUP BY user_id
"""


@register("simpson_diversity_user", oracle=SIMPSON_ORACLE)
def simpson_diversity_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity as the unbiased Simpson index
    1 − Σ nᵢ(nᵢ−1)/(N(N−1)) over event-type counts — the standard
    log-FREE diversity measure (Shannon entropy needs log, which is
    not bitwise-portable across libm implementations; Simpson is an
    exact rational, so it hashes identically on any engine). 0 = all
    activity one type, →1 = evenly spread; the single-event
    degenerate case is NULL via the NULLIF guard on both engines.

    Overflow safety: the n·(n−1) products and the N·(N−1) denominator
    accumulate in DECIMAL — each count is cast to DECIMAL(19,0) BEFORE
    the product (the chi2/gini house pattern) so the sums ride
    DECIMAL(38,0) exactly on both engines; int64 products would
    silently wrap once a per-user count nears ~3e9 while DuckDB stays
    exact in HUGEINT.

    Scale shape: two cascaded map-side-combined aggregates —
    (user, type) counts, then the per-user moments — both on the
    user_id key; one exchange total, exact arithmetic until one
    final division.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    nd = col("n").cast("decimal(19,0)")
    sd = F.sum("n").cast("decimal(19,0)")
    return c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        (
            F.lit(1)
            - F.sum(nd * (nd - 1)).cast("double")
            / F.nullif((sd * (sd - 1)).cast("double"), F.lit(0.0))
        ).alias("simpson"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals (fraud/quality screen)
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) for d = 1..9 as literal constants — identical
#: literals on both engines, no runtime log anywhere
BENFORD_EXPECTED = {
    1: 0.30103, 2: 0.17609, 3: 0.12494, 4: 0.09691, 5: 0.07918,
    6: 0.06695, 7: 0.05799, 8: 0.05115, 9: 0.04576,
}

_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_EXPECTED.items()
) + " END"

BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS first_digit
  FROM orders
),
agg AS (
  SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
  FROM d GROUP BY first_digit
)
SELECT first_digit, n_orders,
  CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS share,
  CAST({_BENFORD_CASE} AS DOUBLE) AS expected_share,
  ABS(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
      - CAST({_BENFORD_CASE} AS DOUBLE)) AS abs_dev
FROM agg
"""


@register("benford_first_digit_orders", oracle=BENFORD_ORACLE)
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals —
    the classic forensic / data-quality screen for fabricated or
    truncated monetary values (naturally-occurring amounts follow
    P(d) = log10(1+1/d); synthetic uniform fixtures visibly don't,
    which the report shows honestly).

    Cross-engine exactness: the digit comes from the DECIMAL STRING
    of exact integer cents (bigint→string is identical everywhere;
    first-char-of-double formatting is NOT), and the expected shares
    are baked literal constants — no runtime log10. Shares and
    deviations are fixed-association double divisions.

    Scale shape: map-only digit extraction fused into the scan, one
    9-cell map-side-combined aggregate, window total over 9 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(col("o_totalprice") * 100).cast("bigint")
    d = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("first_digit")
    )
    agg = d.groupBy("first_digit").agg(F.count("*").cast("bigint").alias("n_orders"))
    agg = agg.withColumn(
        "total", F.sum("n_orders").over(Window.partitionBy()).cast("bigint")
    )
    share = col("n_orders").cast("double") / col("total").cast("double")
    expected = F.expr(_BENFORD_CASE).cast("double")
    return agg.select(
        "first_digit",
        "n_orders",
        share.alias("share"),
        expected.alias("expected_share"),
        F.abs(share - expected).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient over the co-purchase graph
# ---------------------------------------------------------------------------

LCC_ORACLE = """
WITH p AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM p e1
  JOIN p e2 ON e2.u = e1.v
  JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v
),
tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT a AS node FROM t
    UNION ALL SELECT b FROM t
    UNION ALL SELECT c FROM t
  )
  GROUP BY node
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM p UNION ALL SELECT v AS node FROM p)
  GROUP BY node
)
SELECT d.node, d.degree,
  COALESCE(t.n_triangles, 0) AS n_triangles,
  CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
    / NULLIF(CAST(d.degree * (d.degree - 1) AS DOUBLE), 0) AS lcc
FROM deg d LEFT JOIN tri t ON d.node = t.node
"""


@register("clustering_coefficient_parts", oracle=LCC_ORACLE)
def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient 2·t(v)/(deg(v)·(deg(v)−1)) per
    part over the co-purchase graph — how tightly each product's
    co-purchase neighborhood interlinks, the node-level community
    signal that complements the global counts of
    ``triangle_count_parts`` and the assortativity summary.

    Exact rational: triangle counts come from the degree-ordered
    orientation (operators/graph.py triangle_counts, m^1.5-bounded
    wedge work), degrees from one aggregate over both edge endpoint
    projections; the coefficient is one double division of exact
    bigints, NULLIF-NULL for degree-1 nodes on both engines.

    Scale note: shares triangle_count_parts' fixture caveat — the
    uniform co-purchase fixture is near-complete at sf0.1, so the
    oracle row checks sf0.01 and the query stays off the bench
    headline, like its sibling.
    """
    from iot_sparkstreaming_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(col("l_orderkey").alias("o"), col("l_partkey").alias("u"))
    b = li.select(col("l_orderkey").alias("o"), col("l_partkey").alias("v"))
    edges = a.join(b, "o").filter(col("u") < col("v")).select("u", "v").distinct()
    tri = triangle_counts(edges)
    deg = (
        edges.select(col("u").alias("node"))
        .unionAll(edges.select(col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    t = F.coalesce(col("n_triangles"), F.lit(0)).cast("bigint")
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        t.alias("n_triangles"),
        (
            (F.lit(2) * t).cast("double")
            / F.nullif((col("degree") * (col("degree") - 1)).cast("double"), F.lit(0.0))
        ).alias("lcc"),
    )


# ---------------------------------------------------------------------------
# Built-in session_window sessionization (the operator-native twin)
# ---------------------------------------------------------------------------

SESSION_WINDOW_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) >= {SESSION_GAP_MS}
    THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_idx
  FROM flagged
)
SELECT user_id,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts) + INTERVAL {SESSION_GAP_MS // 1000} SECOND,
           '%Y-%m-%d %H:%M:%S') AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_idx
"""


@register("session_window_events", oracle=SESSION_WINDOW_ORACLE)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's BUILT-IN ``session_window``
    grouping — the operator-native twin of the hand-rolled
    gaps-and-islands ``sessionize_events``. One groupBy on
    (user_id, session_window(ts, 30 min)): the engine merges
    overlapping [ts, ts+gap) windows itself, the same machinery that
    powers session aggregation in Structured Streaming, so the batch
    query here is literally the streaming query's plan shape.

    Boundary semantics differ from the LAG formulation by design and
    the oracle encodes them honestly: ``session_window`` closes a
    session when the next event is ≥ gap away (half-open windows),
    while sessionize_events breaks on > gap — the oracle's
    gaps-and-islands uses >= and adds the gap to MAX(ts) to mirror
    window.end = last_event + gap. Timestamps format to strings so
    the hash is timezone-repr-free. The event time is floored to
    MILLISECONDS before ``session_window`` (timestamp_millis ∘
    unix_millis) because the oracle decides breaks on millisecond
    gaps — comparing full-microsecond timestamps on one engine and
    ms-floored gaps on the other would merge/split sessions whose
    true gap falls within 1 ms of exactly the threshold. Flooring is
    monotone and sub-second, so the second-resolution output strings
    are unchanged.

    Scale shape: one shuffle on user_id; the session merge is a sort
    within partitions — the same single-exchange plan as the manual
    formulation, with the merge loop in native code instead of two
    window passes.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_ms", F.timestamp_millis(F.unix_millis(col("ts")))
    )
    sw = F.session_window(col("ts_ms"), f"{SESSION_GAP_MS // 1000} seconds")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over the event value series
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH base AS (
  SELECT event_type, event_id, ts, epoch_ms(ts) AS ms,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
  FROM events
),
seq AS (
  SELECT event_type, event_id, ms,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS i,
    SUM(CAST(v4 AS DECIMAL(19,0))) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
    SUM(CAST(v4 AS DECIMAL(19,0))) OVER (PARTITION BY event_type) AS s
  FROM base
),
dev AS (
  SELECT event_type, event_id, ms, i, n,
    ABS(CAST(n AS DECIMAL(19,0)) * CAST(p AS DECIMAL(19,0))
        - CAST(i AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS adev
  FROM seq
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_events,
  CAST(i AS BIGINT) AS change_idx,
  CAST(ms AS BIGINT) AS change_ms,
  CAST(adev AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0) AS max_dev
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY adev DESC, i ASC) AS rk
  FROM dev
)
WHERE rk = 1
"""


@register("cusum_changepoint_events", oracle=CUSUM_ORACLE)
def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event_type: the index (and event
    time) where the cumulative sum of the value series deviates most
    from the straight line to the series total — the classic offline
    mean-shift locator (max_i |P_i − i·S/n|), the data-quality screen
    that finds WHEN a feed's level shifted (deploys, sensor drift,
    schema bugs) before the shifted window poisons training data.

    Numeric determinism AND overflow safety: values quantize to 1e4
    fixed point through the decimal(18,4) cast, prefix/total sums
    accumulate in decimal, and the deviation is compared as the EXACT
    integer |n·P_i − i·S| (argmax is scale-free, so the /n and /1e4
    normalizations can wait for the one final double division).
    Factors ride the chi2/gini house pattern — decimal(19,0) casts
    before each product, products exact in decimal(38,0) (int64 would
    wrap once n·P nears 2^63; headroom holds to P,S ≤ ~1e19, i.e.
    ~1e15 rows/type at typical magnitudes). Ordering is full-precision
    (ts, event_id) on BOTH engines — never a truncated key (the
    time_weighted_avg_user lesson).

    Scale shape — a TWO-LEVEL PREFIX SCAN (operators/prefix.py), not
    a per-type window: a window partitioned on event_type caps
    parallelism at the number of types (5 here) no matter how many
    executors exist, so the rank and prefix sum are computed per
    (event_type, monotone time-shard) and reconstructed exactly from
    broadcast per-shard offsets. The final per-type argmax is a
    hash-aggregate max over an (adev, -i) struct — map-side combined,
    no sort — the same argmax shape as the k-means assignment.
    Bitwise-identical output to the single-window form (exact
    integers throughout), verified by the unchanged oracle hash;
    measured 17.1 s -> 1.4 s at 100x the bench SF (docs/SCALING.md)
    and no longer serialized by type cardinality at cluster scale.
    """
    from iot_sparkstreaming_spark.operators.prefix import two_level_prefix

    ev = load_table(spark, sf_dir, "events")
    v4 = (col("value").cast("decimal(18,4)") * 10000).cast("bigint")
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — house cast
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.unix_millis("ts").alias("ms"),
        v4.alias("v4"),
    )
    # ms is monotone in ts, so sharding on it is consistent with the
    # (ts, event_id) oracle order
    seq = two_level_prefix(
        spark,
        base,
        part="event_type",
        order_num=col("ms"),
        tiebreaks=["ts", "event_id"],
        measures={"p": d19(col("v4"))},
    )
    dev = seq.select(
        "event_type",
        "ms",
        col("rn").alias("i"),
        "n",
        F.abs(
            d19(col("n")) * d19(col("p_pfx")) - d19(col("rn")) * d19(col("p_tot"))
        ).alias("adev"),
    )
    # argmax (adev desc, i asc) as a hash-agg max over a struct —
    # (adev, i) is unique per type so the winner is deterministic
    win = dev.groupBy("event_type").agg(
        F.max(
            F.struct(
                col("adev"),
                (-col("i")).alias("ni"),
                col("ms"),
                col("n"),
            )
        ).alias("m")
    )
    return win.select(
        "event_type",
        col("m.n").alias("n_events"),
        (-col("m.ni")).alias("change_idx"),
        col("m.ms").alias("change_ms"),
        (col("m.adev").cast("double") / (col("m.n").cast("double") * 10000.0)).alias(
            "max_dev"
        ),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift statistic (exact, unbinned)
# ---------------------------------------------------------------------------

KS_DRIFT_ORACLE = """
WITH bounds AS (
  SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS mid FROM events
),
tagged AS (
  SELECT event_type, value,
    CASE WHEN epoch_ms(ts) < bounds.mid THEN 1 ELSE 0 END AS early
  FROM events, bounds
),
pts AS (
  SELECT event_type, value,
    CAST(SUM(early) AS BIGINT) AS ne_x,
    CAST(SUM(1 - early) AS BIGINT) AS nl_x
  FROM tagged GROUP BY event_type, value
),
cum AS (
  SELECT event_type, value,
    SUM(CAST(ne_x AS DECIMAL(19,0))) OVER (
      PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
    SUM(CAST(nl_x AS DECIMAL(19,0))) OVER (
      PARTITION BY event_type ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
    SUM(CAST(ne_x AS DECIMAL(19,0))) OVER (PARTITION BY event_type) AS ne,
    SUM(CAST(nl_x AS DECIMAL(19,0))) OVER (PARTITION BY event_type) AS nl
  FROM pts
),
dev AS (
  SELECT event_type, value, ne, nl,
    ABS(CAST(ce AS DECIMAL(19,0)) * CAST(nl AS DECIMAL(19,0))
        - CAST(cl AS DECIMAL(19,0)) * CAST(ne AS DECIMAL(19,0))) AS adev
  FROM cum
)
SELECT event_type,
  CAST(ne AS BIGINT) AS n_early,
  CAST(nl AS BIGINT) AS n_late,
  value AS ks_at_value,
  CAST(adev AS DOUBLE)
    / NULLIF(CAST(ne AS DOUBLE) * CAST(nl AS DOUBLE), 0) AS ks_stat
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY adev DESC, value ASC) AS rk
  FROM dev
)
WHERE rk = 1
"""


@register("ks_drift_events", oracle=KS_DRIFT_ORACLE)
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per event_type:
    the early time half vs the late half (same integer-midpoint split
    as ``value_drift_report``), D = max_x |F_early(x) − F_late(x)| —
    the EXACT unbinned complement of the binned share-drift report
    (no bucket choice to hide a shift inside), plus the value where
    the gap peaks. The standard distribution-shift alarm before a
    window of feed data is admitted to training.

    Exactness: the ECDF gap is compared as the integer
    |ce·nl − cl·ne| (cross-multiplied, the anomaly-zscore house
    trick), with decimal(19,0) casts before each product so the
    argmax rides exact decimal(38,0) — no float ECDFs, no ties broken
    by rounding; one final guarded double division reports D. Equal
    VALUES collapse first (groupBy), so the ECDF is evaluated exactly
    once per jump point on both engines.

    Scale shape: the epoch bounds collapse to one broadcast row; the
    corpus collapses map-side to (type, value) cells; the cumulative
    window, the totals, and the argmax all ride ONE event_type
    exchange. Output is one row per event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        ((F.min(F.unix_millis("ts")) + F.max(F.unix_millis("ts"))) / F.lit(2))
        .cast("bigint")
        .alias("mid")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — house cast
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "value",
        F.when(F.unix_millis("ts") < col("mid"), 1).otherwise(0).alias("early"),
    )
    pts = tagged.groupBy("event_type", "value").agg(
        F.sum("early").cast("bigint").alias("ne_x"),
        F.sum(F.lit(1) - col("early")).cast("bigint").alias("nl_x"),
    )
    wo = Window.partitionBy("event_type").orderBy("value")
    wp = Window.partitionBy("event_type")
    cum = (
        pts.withColumn(
            "ce",
            F.sum(d19(col("ne_x"))).over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "cl",
            F.sum(d19(col("nl_x"))).over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("ne", F.sum(d19(col("ne_x"))).over(wp))
        .withColumn("nl", F.sum(d19(col("nl_x"))).over(wp))
    )
    dev = cum.select(
        "event_type",
        "value",
        "ne",
        "nl",
        F.abs(
            d19(col("ce")) * d19(col("nl")) - d19(col("cl")) * d19(col("ne"))
        ).alias("adev"),
    )
    wr = Window.partitionBy("event_type").orderBy(col("adev").desc(), col("value").asc())
    return (
        dev.withColumn("rk", F.row_number().over(wr))
        .filter(col("rk") == 1)
        .select(
            "event_type",
            col("ne").cast("bigint").alias("n_early"),
            col("nl").cast("bigint").alias("n_late"),
            col("value").alias("ks_at_value"),
            (
                col("adev").cast("double")
                / F.nullif(
                    col("ne").cast("double") * col("nl").cast("double"), F.lit(0.0)
                )
            ).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-source BFS distance layers from the trade-graph hubs
# ---------------------------------------------------------------------------

BFS_ROUNDS = 4
BFS_HUBS = 3


def _bfs_oracle() -> str:
    """Unrolled fixed-round BFS: each round is one JOIN + DISTINCT +
    EXCEPT over plain CTEs — the same unroll trick as the PageRank /
    k-core / LPA oracles."""
    sql = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
hubs AS (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT {BFS_HUBS}),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM hubs),
f0 AS (SELECT node FROM hubs)"""
    for r in range(1, BFS_ROUNDS + 1):
        sql += f""",
n{r} AS (
  SELECT DISTINCT e.b AS node FROM edges e JOIN f{r - 1} f ON e.a = f.node
),
f{r} AS (SELECT node FROM n{r} EXCEPT SELECT node FROM d{r - 1}),
d{r} AS (
  SELECT node, dist FROM d{r - 1}
  UNION ALL SELECT node, CAST({r} AS BIGINT) AS dist FROM f{r}
)"""
    sql += f"""
SELECT node AS node_id, node % 2 = 1 AS is_supplier, dist
FROM d{BFS_ROUNDS}
"""
    return sql


@register("bfs_distance_from_hub", oracle=_bfs_oracle())
def bfs_distance_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path layers from the {BFS_HUBS}
    highest-degree trade-graph nodes (deterministic hub pick:
    degree DESC, node ASC) by {BFS_ROUNDS} rounds of FRONTIER
    breadth-first search — the supply-chain blast-radius question
    ("everything within k hops of the biggest hubs") and iterative
    graph algorithm #8, on the same memoized customer–supplier edge
    list PageRank / k-core / LPA / assortativity share.

    Frontier BFS, not dense relaxation: each round joins only the
    newly-reached layer against the edge list and anti-joins the
    visited set (operators/graph.py bfs_layers), so a finished
    component costs nothing in later rounds and per-round shuffle is
    O(frontier-adjacent edges) — the Pregel shape that survives
    100×. The oracle unrolls the identical rounds into plain CTEs
    (JOIN + DISTINCT + EXCEPT per round); distances are bigints, so
    the layer decomposition checks bit-for-bit.

    Scale: hub pick is a TakeOrdered top-{BFS_HUBS} over the degree
    aggregate; the bipartite trade graph's effective diameter is tiny
    (dense fixtures reach everything by round 2-3), so the frontier
    collapses — exactly the early-stop behavior frontier BFS buys.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo
    from iot_sparkstreaming_spark.operators.graph import bfs_layers

    def build():
        pairs = _trade_pairs(spark, sf_dir)
        edges = pairs.union(pairs.select(col("b").alias("a"), col("a").alias("b")))
        deg = edges.groupBy("a").agg(F.count("*").alias("d"))
        hubs = (
            deg.orderBy(col("d").desc(), col("a").asc())
            .limit(BFS_HUBS)
            .select(col("a").alias("node"))
        )
        return bfs_layers(edges, hubs, rounds=BFS_ROUNDS).select(
            col("node").alias("node_id"),
            (col("node") % 2 == 1).alias("is_supplier"),
            "dist",
        )

    return artifact_memo(spark, ("bfs_distance_from_hub", sf_dir), build)


bfs_distance_from_hub.__doc__ = bfs_distance_from_hub.__doc__.replace(
    "{BFS_ROUNDS}", str(BFS_ROUNDS)
).replace("{BFS_HUBS}", str(BFS_HUBS))


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes, bounded window)
# ---------------------------------------------------------------------------

TS_WINDOW = 16  # trailing samples per user — bounds pairs at 120/user


THEIL_SEN_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS tms, value,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rk
  FROM events
),
w AS (SELECT * FROM ev WHERE rk <= {TS_WINDOW}),
pairs AS (
  SELECT a.user_id,
    (b.value - a.value)
      / (CAST(b.tms - a.tms AS DOUBLE) / 3600000.0) AS slope
  FROM w a JOIN w b
    ON a.user_id = b.user_id AND b.rk < a.rk AND a.tms <> b.tms
),
ranked AS (
  SELECT user_id, slope,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope) AS srk,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM pairs
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs, slope AS theil_sen_slope
FROM ranked WHERE srk = (n + 1) // 2
"""


@register("theil_sen_trend_user", oracle=THEIL_SEN_ORACLE)
def theil_sen_trend_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user THEIL–SEN trend over the trailing {TS_WINDOW}
    samples: the lower median of all pairwise slopes (Δvalue per
    HOUR) — the robust regression estimator with a 29% breakdown
    point, completing the robust-stats family beside the OLS
    `rolling_trend_slope` (which one wild sample can flip) and the
    MAD outlier flags. Pairs are (older, newer) with distinct
    timestamps; slope x-units come from epoch-millis integer
    deltas (calendar-free, the house time rule).

    Determinism: both engines compute each slope with the identical
    double expression, so the multiset of slopes is bit-equal; the
    median is selected by POSITION (row_number = (n+1) div 2 over
    slope order), and ties at the median position all carry the same
    value, so the arbitrary tie order cannot change the answer.

    Scale shape: the {TS_WINDOW}-row window bounds the per-user pair
    self-join at {TS_WINDOW}·({TS_WINDOW}−1)/2 pairs regardless of
    history length; everything — trailing-window rank, pair join,
    median rank — rides ONE user_id partitioning, so the whole query
    is a single exchange followed by per-partition work.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id"
    )
    w_recent = Window.partitionBy("user_id").orderBy(
        col("ts").desc(), col("event_id").desc()
    )
    recent = (
        ev.withColumn("rk", F.row_number().over(w_recent))
        .filter(col("rk") <= TS_WINDOW)
        .select("user_id", F.unix_millis(col("ts")).alias("tms"), "value", "rk")
    )
    a = recent.select(
        "user_id",
        col("tms").alias("tms_a"),
        col("value").alias("v_a"),
        col("rk").alias("rk_a"),
    )
    b = recent.select(
        col("user_id").alias("user_b"),
        col("tms").alias("tms_b"),
        col("value").alias("v_b"),
        col("rk").alias("rk_b"),
    )
    slope = (col("v_b") - col("v_a")) / (
        (col("tms_b") - col("tms_a")).cast("double") / F.lit(3600000.0)
    )
    pairs = (
        a.join(
            b,
            (col("user_id") == col("user_b"))
            & (col("rk_b") < col("rk_a"))
            & (col("tms_a") != col("tms_b")),
        )
        .select("user_id", slope.alias("slope"))
    )
    wp = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "slope",
        F.row_number().over(wp.orderBy(col("slope"))).alias("srk"),
        F.count("*").over(wp).alias("n"),
    )
    return ranked.filter(
        col("srk") == F.expr("(n + 1) div 2")
    ).select(
        "user_id",
        col("n").cast("bigint").alias("n_pairs"),
        col("slope").alias("theil_sen_slope"),
    )


theil_sen_trend_user.__doc__ = theil_sen_trend_user.__doc__.replace(
    "{TS_WINDOW}", str(TS_WINDOW)
)


# ---------------------------------------------------------------------------
# Bidirectional nearest-event join (symmetric as-of)
# ---------------------------------------------------------------------------

NEAREST_JOIN_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms
  FROM events WHERE event_type IN ('error', 'click')
),
marked AS (
  SELECT *,
    last_value(CASE WHEN event_type = 'click' THEN tms END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY tms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click,
    first_value(CASE WHEN event_type = 'click' THEN tms END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY tms, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click
  FROM ev
)
SELECT user_id, event_id AS error_event_id,
  CASE
    WHEN prev_click IS NULL THEN next_click
    WHEN next_click IS NULL THEN prev_click
    WHEN tms - prev_click <= next_click - tms THEN prev_click
    ELSE next_click
  END AS nearest_click_ms,
  CASE
    WHEN prev_click IS NULL AND next_click IS NULL THEN NULL
    WHEN prev_click IS NULL THEN 'after'
    WHEN next_click IS NULL THEN 'before'
    WHEN tms - prev_click <= next_click - tms THEN 'before'
    ELSE 'after'
  END AS direction,
  CASE
    WHEN prev_click IS NULL AND next_click IS NULL THEN NULL
    WHEN prev_click IS NULL THEN next_click - tms
    WHEN next_click IS NULL THEN tms - prev_click
    WHEN tms - prev_click <= next_click - tms THEN tms - prev_click
    ELSE next_click - tms
  END AS gap_ms
FROM marked
WHERE event_type = 'error'
"""


@register("nearest_event_join", oracle=NEAREST_JOIN_ORACLE)
def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIDIRECTIONAL nearest-event join: each error event matched to
    the temporally closest click of the same user, looking both
    backward and forward — the symmetric completion of the join
    family's one-sided `asof_click_to_purchase` (backward only) and
    the root-cause question as analysts actually ask it ("what was
    the user doing around the failure?"). Ties go to the earlier
    (backward) click; epoch-millis integer gaps keep it calendar-free
    (the house time rule).

    Merge-scan shape, NOT a join: both event sets union into ONE
    per-user ordered pass where two ignore-nulls frame windows carry
    the last-click-before and first-click-after — O(n log n) on one
    user_id exchange, versus the O(n·m) band join a naive nearest
    lookup would cost, and the same plan shape at any scale. The
    1-PRECEDING/1-FOLLOWING frames exclude the current row, so a
    click sharing an error's exact timestamp resolves by the
    deterministic (tms, event_id) sort on both engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(col("event_type").isin("error", "click"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_millis(col("ts")).alias("tms"),
        )
    )
    click_ts = F.when(col("event_type") == "click", col("tms"))
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "tms",
        F.last(click_ts, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_click"),
        F.first(click_ts, ignorenulls=True)
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("next_click"),
    )
    prev_gap = col("tms") - col("prev_click")
    next_gap = col("next_click") - col("tms")
    use_prev = col("next_click").isNull() | (
        col("prev_click").isNotNull() & (prev_gap <= next_gap)
    )
    return marked.filter(col("event_type") == "error").select(
        "user_id",
        col("event_id").alias("error_event_id"),
        F.when(use_prev, col("prev_click"))
        .otherwise(col("next_click"))
        .alias("nearest_click_ms"),
        F.when(
            col("prev_click").isNull() & col("next_click").isNull(), F.lit(None)
        )
        .when(use_prev, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("direction"),
        F.when(use_prev, prev_gap).otherwise(next_gap).alias("gap_ms"),
    )


# ---------------------------------------------------------------------------
# Seasonally-adjusted z-score outliers (within hour-of-week cohort)
# ---------------------------------------------------------------------------

SEASONAL_Z_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type, value,
    (epoch_ms(ts) // 3600000) % 168 AS how_bucket,
    CAST(ROUND(value * 10000) AS BIGINT) AS x4
  FROM events
),
cell AS (
  SELECT event_type, how_bucket,
    CAST(COUNT(*) AS HUGEINT) AS n,
    SUM(CAST(x4 AS HUGEINT)) AS s,
    SUM(CAST(x4 AS HUGEINT) * CAST(x4 AS HUGEINT)) AS ss
  FROM ev GROUP BY 1, 2
)
SELECT e.event_id, e.event_type,
  CAST(e.how_bucket AS BIGINT) AS how_bucket,
  e.value,
  CAST(c.n AS BIGINT) AS n_cell
FROM ev e
JOIN cell c
  ON c.event_type = e.event_type AND c.how_bucket = e.how_bucket
WHERE (c.n * e.x4 - c.s) * (c.n * e.x4 - c.s) > 4 * (c.n * c.ss - c.s * c.s)
"""


@register("seasonal_zscore_outliers", oracle=SEASONAL_Z_ORACLE)
def seasonal_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-ADJUSTED anomaly flags: an event is an outlier only
    against its own (event_type × hour-of-week) cohort — |x − μ_cell|
    > 2σ_cell — so the nightly-peak reading that would trip a global
    z-score (`anomaly_zscore_events` flags against the trailing
    window; this flags against the seasonal cohort) is judged beside
    other nightly peaks. The calendar-free epoch-hour mod 168
    bucketing is the `seasonal_hour_of_week` rule; this is that
    baseline weaponized into a detector.

    Exactness: the 2σ test is the cross-multiplied ALL-INTEGER
    inequality (n·x − S)² > 4·(n·SS − S²) over 1e4 fixed-point
    values — no float mean, no float variance, no sqrt — so both
    engines flag the identical event set. Stated bound: n·x and S²
    stay inside decimal(38,0) for n·x4 ≤ 1e19 (≈1e12 events/cell at
    |value| ≤ 1e3), matching the oracle's HUGEINT headroom.

    Scale shape: the cohort table collapses to ≤ 168·|types| cells
    map-side; events join it on the bounded (type, bucket) key —
    broadcast at any scale — and the flag is a per-row integer
    comparison. One exchange for the cell aggregate, none for the
    probe.
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — house cast
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("(unix_millis(ts) div 3600000) % 168").alias("how_bucket"),
        F.round(col("value") * 10000).cast("bigint").alias("x4"),
    )
    cell = ev.groupBy("event_type", "how_bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d19(col("x4"))).cast("decimal(19,0)").alias("s"),
        F.sum(d19(col("x4")) * d19(col("x4"))).cast("decimal(38,0)").alias("ss"),
    )
    dev = (d19(col("n")) * d19(col("x4")) - col("s")).cast("decimal(19,0)")
    lhs = (dev * dev).cast("decimal(38,0)")
    rhs = (
        F.lit(4).cast("decimal(19,0)")
        * (d19(col("n")) * col("ss") - col("s") * col("s")).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    return (
        ev.join(F.broadcast(cell), ["event_type", "how_bucket"])
        .filter(lhs > rhs)
        .select(
            "event_id",
            "event_type",
            col("how_bucket").cast("bigint").alias("how_bucket"),
            "value",
            col("n").cast("bigint").alias("n_cell"),
        )
    )


# ---------------------------------------------------------------------------
# Feature-store build: per-user RFM-style activity features
# ---------------------------------------------------------------------------

USER_FEATURES_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_ms(ts) AS tms,
    CAST(ROUND(value * 10000) AS BIGINT) AS v4
  FROM events
),
mx AS (SELECT MAX(tms) AS corpus_max FROM ev)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchases,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_errors,
  MAX(tms) - MIN(tms) AS span_ms,
  (SELECT corpus_max FROM mx) - MAX(tms) AS recency_ms,
  CAST(SUM(CAST(v4 AS HUGEINT)) AS DOUBLE) / 10000.0 / COUNT(*) AS mean_value
FROM ev
GROUP BY user_id
"""


@register("user_activity_features", oracle=USER_FEATURES_ORACLE)
def user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE build: the per-user RFM-style feature vector a
    churn/propensity model trains on — frequency (event and
    purchase/error counts, type diversity), tenure span, recency
    against the corpus frontier, and the exact mean value. This is
    the materialization the SCD2 point-in-time join serves; here is
    the batch job that builds it.

    Exactness: mean_value is the house decimal trick — values sum as
    exact 1e4 fixed-point integers and ONE double division at the
    end, so the feature is identical regardless of aggregation order;
    recency/tenure are epoch-millis integer arithmetic (calendar-
    free). The corpus frontier is a 1-row broadcast.

    Scale shape: one map-side-combined hash aggregate on user_id
    (conditional counts fold into the same pass — no pivot shuffle,
    no per-type join), plus the 1-row global max. At 100 TB this is
    a single exchange keyed by the feature-store's own primary key.
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — house cast
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis(col("ts")).alias("tms"),
        F.round(col("value") * 10000).cast("bigint").alias("v4"),
    )
    mx = ev.agg(F.max("tms").alias("corpus_max"))
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.sum((col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum((col("event_type") == "error").cast("long"))
        .cast("bigint")
        .alias("n_errors"),
        (F.max("tms") - F.min("tms")).alias("span_ms"),
        F.max("tms").alias("last_tms"),
        F.sum(d19(col("v4"))).cast("decimal(38,0)").alias("v4_sum"),
    )
    return per_user.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "n_events",
        "n_types",
        "n_purchases",
        "n_errors",
        "span_ms",
        (col("corpus_max") - col("last_tms")).alias("recency_ms"),
        (
            col("v4_sum").cast("double")
            / F.lit(10000.0)
            / col("n_events").cast("double")
        ).alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# Bitmap-index activity: 30-day per-user bitmaps, popcount + streaks
# ---------------------------------------------------------------------------

BITMAP_DAYS = 30  # one monthly shard of the bitmap index


def _streak_layers_sql(steps: int) -> str:
    """Chained-CTE longest-run-of-1s fold: layer k ANDs the iterate
    with itself shifted right by one; the iterate survives k layers
    iff some run has length > k, so the streak is the count of
    non-zero iterates. Each layer references the previous ITERATE
    COLUMN (never inlines the expression), so generated SQL is
    LINEAR in steps — the naive expression substitution doubles per
    step and detonates at 2^steps text. Pure bigint AND/shift."""
    layers = [
        "st0 AS (SELECT user_id, bitmap, bitmap AS s,"
        " CASE WHEN bitmap <> 0 THEN 1 ELSE 0 END AS acc FROM bm)"
    ]
    for k in range(1, steps):
        layers.append(
            f"st{k} AS (SELECT user_id, bitmap, (s & (s >> 1)) AS s,"
            f" acc + CASE WHEN (s & (s >> 1)) <> 0 THEN 1 ELSE 0 END AS acc"
            f" FROM st{k - 1})"
        )
    return ",\n".join(layers)


BITMAP_ORACLE = f"""
WITH t0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
days AS (
  SELECT DISTINCT user_id,
    date_diff('day', (SELECT d0 FROM t0), CAST(ts AS DATE)) AS day_idx
  FROM events
),
bm AS (
  SELECT user_id,
    bit_or(CAST(1 AS BIGINT) << CAST(day_idx AS INTEGER)) AS bitmap
  FROM days WHERE day_idx >= 0 AND day_idx < {BITMAP_DAYS}
  GROUP BY user_id
),
{_streak_layers_sql(BITMAP_DAYS)}
SELECT user_id, bitmap,
  CAST(bit_count(bitmap) AS BIGINT) AS active_days,
  CAST(acc AS BIGINT) AS longest_streak,
  ((bitmap >> {BITMAP_DAYS - 2}) & 3) <> 0 AS retained_last2
FROM st{BITMAP_DAYS - 1}
"""


@register("activity_bitmap_retention", oracle=BITMAP_ORACLE)
def activity_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roaring-style BITMAP INDEX over user activity: one bigint per
    user per {BITMAP_DAYS}-day shard, bit i = "active on corpus day
    i", built with bit_or(1 << day_idx). Popcount (`bit_count`) gives
    active-day totals, an AND-shift fold gives the LONGEST STREAK
    (step k zeroes the bitmap unless some run exceeds k — {BITMAP_DAYS}
    unrolled steps, all bigint ops), and a 2-bit mask tests tail
    retention. This is the segment-bitmap trick OLAP engines use for
    retention/cohort queries: set intersections become AND+popcount on
    8-byte words instead of joins on event rows.

    Scale shape: the event scan collapses to DISTINCT (user, day) —
    map-side combinable — then ONE hash aggregate builds every bitmap;
    streak/popcount/retention are per-row expressions after that. A
    year of history is 12 such shards OR-merged per user; nothing here
    depends on per-user event counts. Both engines run the identical
    bigint fold, so every column checks bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", col("ts").cast("date").alias("d")
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    days = (
        ev.crossJoin(F.broadcast(d0))
        .select("user_id", F.datediff(col("d"), col("d0")).alias("day_idx"))
        .filter((col("day_idx") >= 0) & (col("day_idx") < BITMAP_DAYS))
        .distinct()
    )
    # SQL-form shiftleft: the PySpark wrapper only takes a literal
    # shift amount, but the underlying function shifts by a column.
    bm = days.groupBy("user_id").agg(
        F.bit_or(F.expr("shiftleft(cast(1 as bigint), day_idx)")).alias("bitmap")
    )
    # linear fold via column chaining (mirrors the oracle's CTE
    # layers): each step references the PREVIOUS iterate column, so
    # the plan is O(steps), not the 2^steps of naive inlining.
    it = bm.withColumn("s", col("bitmap")).withColumn(
        "acc", (col("bitmap") != 0).cast("int")
    )
    for _ in range(1, BITMAP_DAYS):
        it = it.withColumn(
            "s", col("s").bitwiseAND(F.shiftright(col("s"), 1))
        ).withColumn("acc", col("acc") + (col("s") != 0).cast("int"))
    return it.select(
        "user_id",
        "bitmap",
        F.bit_count(col("bitmap")).cast("bigint").alias("active_days"),
        col("acc").cast("bigint").alias("longest_streak"),
        (
            F.shiftright(col("bitmap"), BITMAP_DAYS - 2).bitwiseAND(F.lit(3)) != 0
        ).alias("retained_last2"),
    )


activity_bitmap_retention.__doc__ = activity_bitmap_retention.__doc__.replace(
    "{BITMAP_DAYS}", str(BITMAP_DAYS)
)


# ---------------------------------------------------------------------------
# Mann–Whitney U (rank-sum with tie correction, exact integers)
# ---------------------------------------------------------------------------

MW_A, MW_B = "click", "error"


MANN_WHITNEY_ORACLE = f"""
WITH hist AS (
  SELECT value,
    SUM(CASE WHEN event_type = '{MW_A}' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN event_type = '{MW_B}' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('{MW_A}', '{MW_B}')
  GROUP BY value
),
scan AS (
  SELECT ca, cb,
    COALESCE(SUM(cb) OVER (
      ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS cb_below
  FROM hist
),
agg AS (
  SELECT
    CAST(SUM(ca) AS BIGINT) AS n1,
    CAST(SUM(cb) AS BIGINT) AS n2,
    CAST(SUM(2 * ca * cb_below + ca * cb) AS BIGINT) AS u1_x2,
    CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT)
      AS tie_cubes
  FROM scan
)
SELECT n1, n2, u1_x2, 2 * n1 * n2 - u1_x2 AS u2_x2, tie_cubes,
  (CAST(u1_x2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
  / sqrt(
      CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
      * (CAST(n1 + n2 + 1 AS DOUBLE)
         - CAST(tie_cubes AS DOUBLE)
           / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
    ) AS z_score
FROM agg
"""


@register("mann_whitney_events", oracle=MANN_WHITNEY_ORACLE)
def mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample MANN–WHITNEY U comparing `{MW_A}` vs `{MW_B}`
    event values — the non-parametric location test that pairs with
    the distribution-shape KS drift check (`ks_drift_events`). U is
    computed by DISTRIBUTION COUNTING, not ranking rows: collapse both
    samples to a per-distinct-value histogram, one ordered scan
    accumulates opposite-sample counts below each value, and
    U1 = Σ cA·cB_below + cA·cB/2. Everything rides DOUBLED integers
    (u1_x2) so half-ties stay exact bigints; the tie-correction term
    Σ t³−t is exact too, and the normal-approximation z-score is one
    shared double formula over those exact integers.

    Scale shape: the rank statistic never sorts the 2n rows — the
    histogram shrinks the data to distinct values (map-side
    combinable), and the single-partition ordered scan touches only
    that histogram. At 100 TB you'd range-partition the value domain
    and prefix-sum partition totals; the fixture's distinct-value
    count keeps one partition honest here.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(col("event_type").isin(MW_A, MW_B))
        .select("event_type", "value")
    )
    hist = ev.groupBy("value").agg(
        F.sum((col("event_type") == MW_A).cast("long")).alias("ca"),
        F.sum((col("event_type") == MW_B).cast("long")).alias("cb"),
    )
    w = (
        Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scan = hist.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).alias("cb_below"),
    )
    t = col("ca") + col("cb")
    agg = scan.agg(
        F.sum("ca").cast("bigint").alias("n1"),
        F.sum("cb").cast("bigint").alias("n2"),
        F.sum(2 * col("ca") * col("cb_below") + col("ca") * col("cb"))
        .cast("bigint")
        .alias("u1_x2"),
        F.sum(t * t * t - t).cast("bigint").alias("tie_cubes"),
    )
    n1d, n2d = col("n1").cast("double"), col("n2").cast("double")
    nd = (col("n1") + col("n2")).cast("double")
    z = (col("u1_x2").cast("double") / F.lit(2.0) - n1d * n2d / F.lit(2.0)) / F.sqrt(
        n1d
        * n2d
        / F.lit(12.0)
        * (
            (col("n1") + col("n2") + 1).cast("double")
            - col("tie_cubes").cast("double")
            / (nd * (col("n1") + col("n2") - 1).cast("double"))
        )
    )
    return agg.select(
        "n1",
        "n2",
        "u1_x2",
        (2 * col("n1") * col("n2") - col("u1_x2")).alias("u2_x2"),
        "tie_cubes",
        z.alias("z_score"),
    )


mann_whitney_events.__doc__ = mann_whitney_events.__doc__.replace(
    "{MW_A}", MW_A
).replace("{MW_B}", MW_B)


# ---------------------------------------------------------------------------
# Gini concentration of customer spend per market segment (exact decimal)
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH spend AS (
  SELECT c.c_custkey, c.c_mktsegment,
    COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0) AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
),
ranked AS (
  SELECT c_mktsegment, cents,
    ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY cents, c_custkey
    ) AS i,
    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM spend
)
SELECT c_mktsegment AS segment,
  CAST(MAX(n) AS BIGINT) AS n_customers,
  CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR) AS total_cents,
  CAST(CAST(SUM((2 * i - n - 1) * CAST(cents AS DECIMAL(38,0)))
    AS DECIMAL(38,0)) AS VARCHAR) AS gini_num,
  CAST(SUM((2 * i - n - 1) * CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
    / (CAST(MAX(n) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)) AS gini
FROM ranked
GROUP BY c_mktsegment
"""


@register("gini_concentration_segment", oracle=GINI_ORACLE)
def gini_concentration_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer lifetime spend per market segment
    — the revenue-concentration audit ("do 20% of customers carry 80%
    of the segment?") via the exact rank formula
    G = Σ(2i−n−1)·x(i) / (n·Σx) with x in integer CENTS and the
    numerator accumulated in DECIMAL(38,0), so both engines agree
    bit-for-bit; only the final ratio is a double. Zero-spend
    customers enter through the LEFT join (a Gini over buyers-only
    overstates equality). Tie safety: (2i−n−1) varies across a run of
    equal spends, but x is constant within the run, so the run's
    Σ(2i−n−1)·x is invariant to tie order — the (cents, custkey)
    tie-break is belt-and-braces, not load-bearing.

    Scale shape: spend rolls up map-side per custkey; ranking and both
    sums ride ONE c_mktsegment exchange (5 segments ⇒ salt or
    two-level aggregate at extreme skew; the window is a single
    per-partition scan). Output is 5 rows.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    spend = (
        cust.join(orders, col("o_custkey") == col("c_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"))
    )
    wseg = Window.partitionBy("c_mktsegment")
    ranked = spend.select(
        "c_mktsegment",
        "cents",
        F.row_number()
        .over(wseg.orderBy(col("cents"), col("c_custkey")))
        .alias("i"),
        F.count("*").over(wseg).alias("n"),
    )
    num = F.sum(
        (2 * col("i") - col("n") - 1).cast("decimal(38,0)")
        * col("cents").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    return (
        ranked.groupBy(col("c_mktsegment").alias("segment"))
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            # exact DECIMAL(38,0) values ride as strings: the driver's
            # value-hash compares reprs, and decimal reprs differ across
            # engines while integer-string reprs cannot
            F.sum("cents").cast("decimal(38,0)").cast("string").alias("total_cents"),
            num.cast("string").alias("gini_num"),
        )
        .select(
            "segment",
            "n_customers",
            "total_cents",
            "gini_num",
            (
                col("gini_num").cast("double")
                / (col("n_customers").cast("double") * col("total_cents").cast("double"))
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level+trend recursion, dyadic α/β)
# ---------------------------------------------------------------------------

HW_WINDOW = 32  # trailing samples per user — bounds recursion depth


def _recent_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trailing-{HW_WINDOW}-sample (user_id, rkd, value) frame both
    exponential-smoothing queries fold over — ONE per-user descending
    rank pass, session-memoized and eagerly materialized so Holt and
    Holt-Winters share a single window sort instead of each paying the
    full events exchange (the `_trade_pairs` discipline)."""
    from iot_sparkstreaming_spark.tables import session_memo

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "value"
        )
        w_recent = Window.partitionBy("user_id").orderBy(
            col("ts").desc(), col("event_id").desc()
        )
        recent = (
            ev.withColumn("rkd", F.row_number().over(w_recent))
            .filter(col("rkd") <= HW_WINDOW)
            .select("user_id", "rkd", "value")
        )
        # one row per user, window as an array ORDERED OLDEST-FIRST
        # (rkd descends with age, so sort by rkd then reverse): the
        # smoothing kernels then run under mapInPandas with one Arrow
        # batch per ~thousand USERS, not one pandas frame per user —
        # the per-group dispatch overhead of applyInPandas is what
        # made the first cut of these queries 3+ s at sf0.1.
        return (
            recent.groupBy("user_id")
            .agg(
                F.reverse(
                    F.array_sort(F.collect_list(F.struct("rkd", "value")))
                ).alias("xs")
            )
            .localCheckpoint(eager=True)
        )

    return session_memo(spark, ("recent_per_user", sf_dir), build)



HOLT_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rkd
  FROM events
),
w AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rkd DESC) AS rk,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM ev WHERE rkd <= {HW_WINDOW}
),
hw AS (
  SELECT user_id, 1 AS step, n, value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM w WHERE rk = 1
  UNION ALL
  SELECT w.user_id, hw.step + 1, hw.n,
    0.5 * w.value + 0.5 * (hw.l + hw.b),
    0.25 * ((0.5 * w.value + 0.5 * (hw.l + hw.b)) - hw.l) + 0.75 * hw.b
  FROM hw JOIN w ON w.user_id = hw.user_id AND w.rk = hw.step + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_samples, l AS level, b AS trend,
  l + 3.0 * b AS forecast_3
FROM hw WHERE step = n
"""


@register("holt_linear_forecast_user", oracle=HOLT_ORACLE)
def holt_linear_forecast_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT double-exponential smoothing per user (level + trend, the
    classic short-horizon forecaster) over the trailing {HW_WINDOW}
    samples: l_t = α·x_t + (1−α)(l_(t−1)+b_(t−1)),
    b_t = β(l_t − l_(t−1)) + (1−β)·b_(t−1), α=1/2 β=1/4, init
    l_1=x_1, b_1=0; output the final state and a 3-step-ahead
    forecast l+3b. The recursion is genuinely sequential — the op
    built-ins can't express — so it runs as a Pandas kernel over
    per-user window ARRAYS (collect_list → mapInPandas — one Arrow
    batch per ~thousand users, not one dispatch per user, which is
    what made the applyInPandas first cut 10× slower); α,β are DYADIC so
    every multiply is a power-of-two scale, and both engines evaluate
    the IDENTICAL double expression tree in the identical order, so
    the DuckDB RECURSIVE-CTE oracle (one iterate per step) matches
    bit-for-bit — no tolerance anywhere.

    Scale shape: one user_id exchange; each user's array is capped at
    {HW_WINDOW} values by the window-rank prefilter BEFORE the Python
    stage, so Arrow batches are tiny and bounded regardless of
    history length. The streaming twin of this recursion family lives
    in streaming/stateful.py (EWMA); this is the batch
    level+trend member.
    """
    import pandas as pd

    recent = _recent_per_user(spark, sf_dir)

    def holt(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for uid, arr in zip(pdf["user_id"], pdf["xs"]):
                xs = [float(e["value"]) for e in arr]
                l, b = xs[0], 0.0
                for x in xs[1:]:
                    ln = 0.5 * x + 0.5 * (l + b)
                    b = 0.25 * (ln - l) + 0.75 * b
                    l = ln
                rows.append(
                    {
                        "user_id": int(uid),
                        "n_samples": len(xs),
                        "level": l,
                        "trend": b,
                        "forecast_3": l + 3.0 * b,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["user_id", "n_samples", "level", "trend", "forecast_3"],
            )

    return recent.mapInPandas(
        holt,
        schema=(
            "user_id bigint, n_samples bigint, level double, "
            "trend double, forecast_3 double"
        ),
    )


holt_linear_forecast_user.__doc__ = holt_linear_forecast_user.__doc__.replace(
    "{HW_WINDOW}", str(HW_WINDOW)
)


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities (exact-integer Q terms)
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    """Replays the LPA rounds (shared CTE chain), then computes each
    community's exact modularity term 4·m·e_c − d_c² in DECIMAL —
    zero floats until the final Q division."""
    return (
        _lpa_ctes()
        + f""",
comm AS (SELECT node, label FROM l{LP_ITERS}),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
intra AS (
  SELECT ca.label AS community, COUNT(*) AS e_c
  FROM pairs p
  JOIN comm ca ON p.a = ca.node
  JOIN comm cb ON p.b = cb.node AND cb.label = ca.label
  GROUP BY ca.label
),
dsum AS (
  SELECT c.label AS community, CAST(SUM(d.d) AS BIGINT) AS d_c,
    COUNT(*) AS n_nodes
  FROM comm c JOIN deg d ON d.node = c.node GROUP BY c.label
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs)
SELECT dsum.community, CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(COALESCE(e_c, 0) AS BIGINT) AS intra_edges, d_c AS degree_sum,
  CAST(CAST(4 * CAST(m AS DECIMAL(38,0)) * COALESCE(e_c, 0)
       - CAST(d_c AS DECIMAL(38,0)) * CAST(d_c AS DECIMAL(38,0))
    AS DECIMAL(38,0)) AS VARCHAR) AS q_term_scaled,
  CAST(4 * CAST(m AS DECIMAL(38,0)) * COALESCE(e_c, 0)
       - CAST(d_c AS DECIMAL(38,0)) * CAST(d_c AS DECIMAL(38,0)) AS DOUBLE)
    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS q_term
FROM dsum LEFT JOIN intra ON intra.community = dsum.community CROSS JOIN mm
"""
    )


@register("graph_modularity_communities", oracle=_modularity_oracle())
def graph_modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the LPA communities — the quality metric
    that closes the community-detection loop (detect with
    `label_propagation_communities`, SCORE the partition here): per
    community c, Q_c = e_c/m − (d_c/2m)², reported as the EXACT
    integer 4·m·e_c − d_c² accumulated in DECIMAL(38,0) and emitted
    as its digit string (so Σ terms / 4m² = Q and both engines agree
    bit-for-bit) plus the double term. A
    partition whose Σ q_term ≈ 0 is no better than random wiring —
    the retrain/reject signal for any community-based downstream
    (fraud rings, supplier clusters).

    Scale shape: the community table is the MEMOIZED LPA artifact
    (loaded, not recomputed); intra-edge counting is one pair-table
    join against the (node → label) map on each endpoint — shuffles
    carry only (node, label) pairs; degree and d_c are
    map-side-combinable aggregates; m is a 1-row broadcast. The
    oracle replays the full unrolled LPA + the same integer algebra.
    """
    comm = label_propagation_communities(spark, sf_dir).select(
        col("node_id").alias("node"), col("community").alias("label")
    )
    pairs = _trade_pairs(spark, sf_dir)
    edges = pairs.union(pairs.select(col("b").alias("a"), col("a").alias("b")))
    deg = edges.groupBy(col("a").alias("node")).agg(F.count("*").alias("d"))
    ca = comm.select(col("node").alias("na"), col("label").alias("la"))
    cb = comm.select(col("node").alias("nb"), col("label").alias("lb"))
    intra = (
        pairs.join(ca, col("a") == col("na"))
        .join(cb, (col("b") == col("nb")) & (col("lb") == col("la")))
        .groupBy(col("la").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    dsum = (
        comm.join(deg, "node")
        .groupBy(col("label").alias("community"))
        .agg(
            F.sum("d").cast("bigint").alias("d_c"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    mm = pairs.agg(F.count("*").cast("bigint").alias("m"))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — house cast
    term = (
        F.lit(4) * d38(col("m")) * F.coalesce(col("e_c"), F.lit(0))
        - d38(col("d_c")) * d38(col("d_c"))
    ).cast("decimal(38,0)")
    return (
        dsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "community",
            "n_nodes",
            F.coalesce(col("e_c"), F.lit(0)).cast("bigint").alias("intra_edges"),
            col("d_c").alias("degree_sum"),
            # exact integer rides as a string (house hash-safety rule)
            term.cast("string").alias("q_term_scaled"),
            (
                term.cast("double")
                / (F.lit(4.0) * col("m").cast("double") * col("m").cast("double"))
            ).alias("q_term"),
        )
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two event-type hourly series
# ---------------------------------------------------------------------------

XC_A, XC_B = "click", "error"
XC_MAX_LAG = 3


XCORR_ORACLE = f"""
WITH ev AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events
  WHERE event_type IN ('{XC_A}', '{XC_B}')
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
spine AS (
  SELECT unnest(generate_series(h0, h1)) AS h FROM bounds
),
cells AS (
  SELECT s.h,
    COALESCE(SUM(CASE WHEN e.event_type = '{XC_A}' THEN 1 END), 0) AS xa,
    COALESCE(SUM(CASE WHEN e.event_type = '{XC_B}' THEN 1 END), 0) AS xb
  FROM spine s LEFT JOIN ev e ON e.h = s.h GROUP BY s.h
),
lags AS (
  SELECT g - {XC_MAX_LAG} AS lag
  FROM generate_series(0, {2 * XC_MAX_LAG}) AS t(g)
),
paired AS (
  SELECT l.lag, a.xa, b.xb
  FROM lags l JOIN cells a ON TRUE JOIN cells b ON b.h = a.h + l.lag
),
moments AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
    CAST(SUM(xa * xb) AS BIGINT) AS sxy,
    CAST(SUM(xa * xa) AS BIGINT) AS sxx,
    CAST(SUM(xb * xb) AS BIGINT) AS syy
  FROM paired GROUP BY lag
)
SELECT lag, n_pairs, sx, sy, sxy, sxx, syy,
  (CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
  / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
     * sqrt(CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r
FROM moments
"""


@register("cross_correlation_types", oracle=XCORR_ORACLE)
def cross_correlation_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAGGED CROSS-CORRELATION between the `{XC_A}` and `{XC_B}`
    hourly count series (lags −{XC_MAX_LAG}..+{XC_MAX_LAG}) — the
    lead/lag diagnostic ("do clicks foreshadow errors?") behind
    alert-correlation and causal-ordering hunches. The series are
    ZERO-FILLED on a dense epoch-hour spine (missing hours are real
    zeros, not dropped rows — dropping them biases r toward busy
    hours), every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact bigint,
    and r is one shared double formula per lag.

    Scale shape: the event scan collapses map-side to hourly cells
    (≤ corpus-hours rows); the spine is generated, not scanned; the
    7 lag offsets join cell-to-cell on the hour key — everything
    after the first aggregate is O(hours), independent of event
    count. Epoch-hour integer bucketing (epoch_ms div 3600000) is
    the house calendar-free time rule.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(col("event_type").isin(XC_A, XC_B))
        .select(
            "event_type", F.expr("unix_millis(ts) div 3600000").alias("h")
        )
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(col("h0"), col("h1"))).alias("h")
    )
    cells = (
        spine.join(ev, "h", "left")
        .groupBy("h")
        .agg(
            F.coalesce(
                F.sum(F.when(col("event_type") == XC_A, 1)), F.lit(0)
            ).alias("xa"),
            F.coalesce(
                F.sum(F.when(col("event_type") == XC_B, 1)), F.lit(0)
            ).alias("xb"),
        )
    )
    lags = spark.range(2 * XC_MAX_LAG + 1).select(
        (col("id") - XC_MAX_LAG).cast("bigint").alias("lag")
    )
    a = cells.select(col("h").alias("ha"), "xa")
    b = cells.select(col("h").alias("hb"), "xb")
    paired = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, col("hb") == col("ha") + col("lag"))
    )
    moments = paired.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("xa").cast("bigint").alias("sx"),
        F.sum("xb").cast("bigint").alias("sy"),
        F.sum(col("xa") * col("xb")).cast("bigint").alias("sxy"),
        F.sum(col("xa") * col("xa")).cast("bigint").alias("sxx"),
        F.sum(col("xb") * col("xb")).cast("bigint").alias("syy"),
    )
    nd = col("n_pairs").cast("double")
    r = (nd * col("sxy") - col("sx").cast("double") * col("sy")) / (
        F.sqrt(nd * col("sxx") - col("sx").cast("double") * col("sx"))
        * F.sqrt(nd * col("syy") - col("sy").cast("double") * col("sy"))
    )
    return moments.select(
        "lag", "n_pairs", "sx", "sy", "sxy", "sxx", "syy", r.alias("r")
    )


cross_correlation_types.__doc__ = (
    cross_correlation_types.__doc__.replace("{XC_A}", XC_A)
    .replace("{XC_B}", XC_B)
    .replace("{XC_MAX_LAG}", str(XC_MAX_LAG))
)


# ---------------------------------------------------------------------------
# Closed-form OLS of value on elapsed time per user (slope/intercept/R²)
# ---------------------------------------------------------------------------

OLS_ORACLE = """
WITH xy AS (
  SELECT user_id,
    CAST((epoch_ms(ts) - epoch_ms(MIN(ts) OVER (PARTITION BY user_id)))
         // 1000 AS BIGINT) AS x,
    value AS y
  FROM events
),
m AS (
  SELECT user_id,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx2,
    CAST(SUM(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS DOUBLE) AS sy2
  FROM xy GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
  (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope_per_sec,
  (sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n AS intercept,
  ((n * sxy - sx * sy) * (n * sxy - sx * sy))
    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)) AS r2
FROM m
WHERE n >= 2 AND (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
"""


@register("ols_time_regression_user", oracle=OLS_ORACLE)
def ols_time_regression_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSED-FORM OLS of each user's event value against ELAPSED
    SECONDS since their first event — slope, intercept, and R² from
    the five moment sums, the parametric complement of
    ``theil_sen_trend_user`` (robust slope) and the whole-series
    counterpart of ``rolling_trend_slope`` (positional window): this
    one regresses on REAL time, so irregular sampling is handled, and
    R² says how much of the variance the linear drift explains — the
    "is a linear detrend enough?" gate before seasonal modeling.

    Exactness discipline (the ``acf_user_value`` pattern): x is an
    exact bigint second offset, the five moments accumulate in
    DECIMAL (order-free), each is cast to double ONCE, and
    slope/intercept/R² are fixed parenthesization chains of those
    doubles — bit-identical on both engines. Degenerate series (one
    event, zero x- or y-variance) are filtered by exact predicates,
    not NaN checks.

    Scale shape: the min-ts window and the moment aggregate ride ONE
    user_id exchange (the window's sort feeds a partial-agg-friendly
    groupBy); everything after is per-user arithmetic on a
    one-row-per-user table. 100× events = the same single exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    wmin = Window.partitionBy("user_id")
    xy = ev.select(
        "user_id",
        (F.unix_millis(col("ts")) - F.unix_millis(F.min("ts").over(wmin))).alias(
            "ms_off"
        ),
        col("value").alias("y"),
    ).select(
        "user_id",
        # bigint `div` (== DuckDB's `//`): keeps x exact — double
        # division is only float-exact below 2^53 ms offsets
        F.expr("ms_off div 1000").alias("x"),
        "y",
    )
    d = lambda c, t: c.cast(t)  # noqa: E731 — house cast
    m = xy.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(d(col("x"), "decimal(38,0)")).cast("double").alias("sx"),
        F.sum(d(col("y"), "decimal(38,4)")).cast("double").alias("sy"),
        F.sum(d(col("x"), "decimal(19,0)") * d(col("y"), "decimal(19,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(d(col("x"), "decimal(19,0)") * d(col("x"), "decimal(19,0)"))
        .cast("double")
        .alias("sx2"),
        F.sum(d(col("y"), "decimal(19,4)") * d(col("y"), "decimal(19,4)"))
        .cast("double")
        .alias("sy2"),
    )
    num = col("n") * col("sxy") - col("sx") * col("sy")
    denx = col("n") * col("sx2") - col("sx") * col("sx")
    deny = col("n") * col("sy2") - col("sy") * col("sy")
    slope = num / denx
    return (
        m.filter((col("n") >= 2) & (denx > 0) & (deny > 0))
        .select(
            "user_id",
            col("n").cast("bigint").alias("n_events"),
            slope.alias("slope_per_sec"),
            ((col("sy") - slope * col("sx")) / col("n")).alias("intercept"),
            ((num * num) / (denx * deny)).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# Link prediction: common-neighbor / Jaccard supplier similarity
# ---------------------------------------------------------------------------

LP_MAX_DEG = 48  # wedge-pivot cutoff: customers above this degree are skipped


LINKPRED_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM pairs GROUP BY a),
kept AS (
  SELECT p.a, p.b FROM pairs p JOIN deg ON deg.a = p.a
  WHERE deg.d <= {LP_MAX_DEG}
),
sdeg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS d FROM kept GROUP BY b),
wedges AS (
  SELECT p1.b AS s1, p2.b AS s2, CAST(COUNT(*) AS BIGINT) AS common
  FROM kept p1 JOIN kept p2 ON p1.a = p2.a AND p1.b < p2.b
  GROUP BY p1.b, p2.b
)
SELECT w.s1, w.s2, w.common,
  d1.d AS deg1, d2.d AS deg2,
  CAST(w.common AS DOUBLE) / CAST(d1.d + d2.d - w.common AS DOUBLE)
    AS jaccard
FROM wedges w
JOIN sdeg d1 ON d1.b = w.s1
JOIN sdeg d2 ON d2.b = w.s2
"""


@register("link_prediction_suppliers", oracle=LINKPRED_ORACLE)
def link_prediction_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMON-NEIGHBOR LINK PREDICTION over the bipartite trade graph:
    for every supplier pair, how many customers buy from BOTH, plus
    the neighborhood Jaccard — the classic link-prediction /
    substitutability score ("suppliers serving the same demand") that
    feeds recommendation and consolidation decisions. Wedge
    enumeration pivots on the CUSTOMER side (mean degree ~32) with a
    degree cutoff of {LP_MAX_DEG} on the pivot — the standard
    hub-capping trick that bounds wedge count at Σ min(deg,cap)² and
    keeps the quadratic side of the join off the heavy tail. Both
    degrees in the Jaccard union are computed on the SAME capped
    graph, so the score is internally consistent.

    Exactness: common counts and degrees are bigints; Jaccard is one
    division of exact integers.

    Scale shape (rewritten round 11 — the wedge SELF-JOIN was the one
    heavy query still at alpha ~1.0 at 100x): wedges are enumerated
    from the ADJACENCY LIST instead of a self-join. One groupBy(a)
    collects each surviving pivot's sorted neighbor array (<= cap
    elements, so rows are bounded), the cap filter is a size() test
    on that array (no degree-table join), and ordered pairs explode
    from a codegen'd nested-transform over the array — so the edge
    list crosses the wire ONCE (the collect_list exchange) instead of
    three times (degree join + both self-join sides), and the only
    other exchange is the map-side-combined rollup of exploded pairs
    to supplier keys. Output is bitwise identical to the join form:
    the pair set per customer is the same Σ min-bounded enumeration.
    On a power-law graph the cutoff is what turns an O(Σd²) blowup
    into a tunable budget — cf. the degree-ordered orientation in
    `triangle_count_parts`.

    Measured 100x profile (the stage decomposition recorded in
    docs/SCALING.md, "link_prediction_suppliers: stage-level 100x
    profile"): the
    irreducible term is the wedge rollup itself — Σ min(deg,cap)² =
    673M wedge rows (exactly 100x the 1x wedge mass, so the cap holds
    under scale-up) hash-aggregating to 49.95M DISTINCT supplier
    pairs (C(suppliers-per-shard, 2) x shards — the OUTPUT is ~50M
    rows, so sub-linear time is not available to any exact algorithm
    here); adjacency build and degree joins are the small remainder.
    The packed single-bigint pair key took the measured 20% off that
    exchange. The same operator on a power-law bipartite graph (where
    the cap actually bites) is measured separately by the profile
    tool — the fixture's near-complete shard graph maximizes distinct
    output pairs per wedge, which is what keeps the fixture cell at
    the linear edge.

    The enumeration body is the shared operators/graph.py trio
    (wedge_adjacency → wedge_pair_counts → wedge_link_prediction), so
    the profile tool times the IDENTICAL stages this query runs.
    """
    from iot_sparkstreaming_spark.operators.graph import (
        wedge_adjacency,
        wedge_link_prediction,
    )

    pairs = _trade_pairs(spark, sf_dir)
    # adjacency feeds TWO consumers (supplier degrees and wedge
    # pairs), so materialize the collect_list exchange once; it is
    # edge-bounded (arrays of <= cap suppliers per surviving pivot).
    return wedge_link_prediction(wedge_adjacency(pairs, LP_MAX_DEG))


link_prediction_suppliers.__doc__ = link_prediction_suppliers.__doc__.replace(
    "{LP_MAX_DEG}", str(LP_MAX_DEG)
)


# ---------------------------------------------------------------------------
# OHLC bars: order-dependent open/close + high/low per (type, hour)
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
WITH o AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value,
    ROW_NUMBER() OVER (
      PARTITION BY event_type, date_trunc('hour', ts)
      ORDER BY ts, event_id
    ) AS rn,
    COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts)) AS cnt
  FROM events
)
SELECT event_type, CAST(h AS TIMESTAMP) AS bar_hour,
  MAX(CASE WHEN rn = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn = cnt THEN value END) AS close,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS volume_e4
FROM o
GROUP BY event_type, h
"""


@register("ohlc_bars_type_hour", oracle=OHLC_ORACLE)
def ohlc_bars_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC BAR downsampling — open/high/low/close + volume per
    (event_type, hour) — the hypertable/candlestick rollup every
    time-series store ships, and the ORDER-DEPENDENT complement of
    `rollup_minute_to_hour` (whose sum/min/max aggregates are
    order-free): open and close are defined by POSITION in the
    (ts, event_id) order, so the bar is only well-defined once the
    tie-break is total — the unique event_id makes it so, and both
    engines pick the identical rows. Open/close are picked values
    (no arithmetic), high/low are plain extrema, volume is the exact
    1e4-fixed-point sum.

    Implementation: first/last via ONE ascending row_number plus the
    partition count (rn = cnt marks the last row) — the
    count-over-window trick avoids a second descending sort; the bar
    rollup then groups by the same key, so the window's exchange is
    the only shuffle. At 100 TB this is the classic downsample: one
    exchange on (type, hour), bounded state per window frame, output
    rows = #bars not #events.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", col("ts"))
    wb = Window.partitionBy("event_type", "h")
    o = ev.select(
        "event_type", h.alias("h"), "value", "ts", "event_id"
    ).select(
        "event_type",
        "h",
        "value",
        F.row_number().over(wb.orderBy("ts", "event_id")).alias("rn"),
        F.count("*").over(wb).alias("cnt"),
    )
    return o.groupBy("event_type", col("h").alias("bar_hour")).agg(
        F.max(F.when(col("rn") == 1, col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(col("rn") == col("cnt"), col("value"))).alias("close"),
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.round(col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("volume_e4"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution with exact largest-remainder cent split
# ---------------------------------------------------------------------------

ATTR_HOURS = 72  # lookback window for qualifying touches


ATTRIBUTION_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS pid, user_id, ts AS pts,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.pid, p.user_id, p.cents,
    v.event_id AS vid, v.ts AS vts
  FROM purchases p JOIN events v
    ON v.event_type = 'view' AND v.user_id = p.user_id
   AND v.ts >= p.pts - INTERVAL {ATTR_HOURS} HOUR AND v.ts < p.pts
),
ranked AS (
  SELECT pid, user_id, cents, vid,
    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY vts, vid) AS rn,
    COUNT(*) OVER (PARTITION BY pid) AS n_touches
  FROM touches
)
SELECT pid AS purchase_id, user_id, vid AS touch_id,
  CAST(rn AS BIGINT) AS touch_rank,
  CAST(n_touches AS BIGINT) AS n_touches,
  CAST(cents // n_touches
    + CASE WHEN rn <= cents % n_touches THEN 1 ELSE 0 END
    AS BIGINT) AS alloc_cents
FROM ranked
"""


@register("attribution_linear_touches", oracle=ATTRIBUTION_ORACLE)
def attribution_linear_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MULTI-TOUCH ATTRIBUTION with an EXACT money split: each
    purchase's cents are divided equally across the user's view
    touches in the prior {ATTR_HOURS} h, using the LARGEST-REMAINDER
    rule — every touch gets cents // n, and the first (cents % n)
    touches in (ts, event_id) order get one extra cent — so the
    per-purchase allocations sum to the purchase EXACTLY, no floating
    split, no lost pennies (the invariant double division breaks and
    finance reconciliations reject). The single-touch degenerate case
    collapses to last/first-touch attribution; `asof_click_to_purchase`
    is the nearest-single-touch sibling.

    Scale shape: the touch join is user-equi (the range predicate
    rides the equi-join as a residual filter), so it shuffles the two
    filtered event slices on user_id — never a time cross-join; rank
    and count share ONE pid-partitioned window sort; the split is
    row-local integer arithmetic. Skewed users (many views AND many
    purchases) are the same salting candidates as every user-keyed
    join here.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == "purchase").select(
        col("event_id").alias("pid"),
        "user_id",
        col("ts").alias("pts"),
        F.round(col("value") * 100).cast("bigint").alias("cents"),
    )
    views = ev.filter(col("event_type") == "view").select(
        col("user_id").alias("vuser"),
        col("event_id").alias("vid"),
        col("ts").alias("vts"),
    )
    touches = purchases.join(
        views,
        (col("vuser") == col("user_id"))
        & (col("vts") >= col("pts") - F.expr(f"INTERVAL {ATTR_HOURS} HOURS"))
        & (col("vts") < col("pts")),
    )
    wp = Window.partitionBy("pid")
    ranked = touches.select(
        "pid",
        "user_id",
        "cents",
        "vid",
        F.row_number().over(wp.orderBy("vts", "vid")).alias("rn"),
        F.count("*").over(wp).alias("n_touches"),
    )
    return ranked.select(
        col("pid").alias("purchase_id"),
        "user_id",
        col("vid").alias("touch_id"),
        col("rn").cast("bigint").alias("touch_rank"),
        col("n_touches").cast("bigint").alias("n_touches"),
        (
            F.expr("cents div n_touches")
            + F.when(col("rn") <= col("cents") % col("n_touches"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


attribution_linear_touches.__doc__ = attribution_linear_touches.__doc__.replace(
    "{ATTR_HOURS}", str(ATTR_HOURS)
)


# ---------------------------------------------------------------------------
# Sliding-window rate-limit audit (RANGE frame over event-time millis)
# ---------------------------------------------------------------------------

RATE_WINDOW_MS = 6 * 3600 * 1000  # trailing window
RATE_LIMIT = 12  # breach threshold: > LIMIT events inside the window


RATE_LIMIT_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
)
SELECT user_id, event_id, ms,
  CAST(COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ms
    RANGE BETWEEN {RATE_WINDOW_MS - 1} PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS n_trailing,
  COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ms
    RANGE BETWEEN {RATE_WINDOW_MS - 1} PRECEDING AND CURRENT ROW
  ) > {RATE_LIMIT} AS breach
FROM e
"""


@register("rate_limit_sliding_audit", oracle=RATE_LIMIT_ORACLE)
def rate_limit_sliding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW RATE-LIMIT AUDIT: for every event, the count of
    that user's events in the trailing {RATE_HOURS} h by EVENT TIME —
    a RANGE frame (value-based, includes time-peers symmetrically on
    both engines), not a ROWS frame, which is the distinction that
    matters for rate limiting: bursts of same-millisecond events must
    all see each other. Events over {RATE_LIMIT} in the window flag
    ``breach`` — the retroactive audit of an API/ingest throttle, and
    the batch ground truth a streaming limiter (token bucket per key
    in ``applyInPandasWithState`` state) would be verified against.

    Exactness: counts over an integer-millis RANGE frame are exact;
    the breach flag is an integer compare.

    Scale shape: ONE user_id exchange and one sort carry the frame;
    state per frame is a count (Spark's sliding frame keeps the
    window buffer — bounded by the densest {RATE_HOURS} h per user,
    the natural knob). Output is per-event; a production audit would
    add the breach filter, which pushes into the same window pass.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", F.unix_millis(col("ts")).alias("ms"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms")
        .rangeBetween(-(RATE_WINDOW_MS - 1), Window.currentRow)
    )
    n = F.count("*").over(w)
    return e.select(
        "user_id",
        "event_id",
        "ms",
        n.cast("bigint").alias("n_trailing"),
        (n > RATE_LIMIT).alias("breach"),
    )


rate_limit_sliding_audit.__doc__ = rate_limit_sliding_audit.__doc__.replace(
    "{RATE_HOURS}", str(RATE_WINDOW_MS // 3600000)
).replace("{RATE_LIMIT}", str(RATE_LIMIT))


# ---------------------------------------------------------------------------
# Pareto 80/20: minimal top-k customers covering the revenue threshold
# ---------------------------------------------------------------------------

PARETO_NUM, PARETO_DEN = 4, 5  # threshold = 4/5 = 80% of segment revenue


PARETO_ORACLE = f"""
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
    CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
      AS BIGINT) AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, cents,
    ROW_NUMBER() OVER (
      PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
    ) AS rn,
    SUM(cents) OVER (
      PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum,
    SUM(cents) OVER (PARTITION BY c_mktsegment) AS total,
    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM spend
)
SELECT c_mktsegment AS segment,
  CAST(MIN(n) AS BIGINT) AS n_customers,
  CAST(MIN(rn) AS BIGINT) AS k_top,
  CAST(MIN(rn) AS DOUBLE) / CAST(MIN(n) AS DOUBLE) AS k_frac,
  CAST(MIN(cum) AS BIGINT) AS cum_cents_at_k,
  CAST(MIN(total) AS BIGINT) AS total_cents,
  CAST(MIN(cum) AS DOUBLE) / CAST(MIN(total) AS DOUBLE) AS share_at_k
FROM ranked
WHERE {PARETO_DEN} * cum >= {PARETO_NUM} * total
GROUP BY c_mktsegment
"""


@register("pareto_front_customers", oracle=PARETO_ORACLE)
def pareto_front_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO 80/20 CONCENTRATION: per market segment, the MINIMAL
    number of top customers whose cumulative spend reaches 80% of the
    segment — "how few customers carry the business", the actionable
    counterpart of `gini_concentration_segment`'s index (Gini scores
    the whole curve; this names the knee). The threshold compare is
    CROSS-MULTIPLIED ({PARETO_DEN}·cum ≥ {PARETO_NUM}·total) so the
    cut is decided in exact bigint cents; k is then MIN(rn) over the
    qualifying suffix — MIN(cum)/MIN(total) ride the same trick since
    cum is increasing in rn. Only the two reported fractions are
    doubles.

    Scale shape: spend rolls up map-side per custkey; ranking,
    running sum, total, and count share ONE segment exchange and one
    sort (all four windows use the same partitioning, three the same
    order); the qualifying-suffix aggregate reuses the partition key.
    Output is one row per segment.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    spend = (
        cust.join(orders, col("o_custkey") == col("c_custkey"), "left")
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"))
    )
    wseg = Window.partitionBy("c_mktsegment")
    word = wseg.orderBy(col("cents").desc(), col("c_custkey"))
    ranked = spend.select(
        "c_mktsegment",
        "cents",
        F.row_number().over(word).alias("rn"),
        F.sum("cents")
        .over(word.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cents").over(wseg).alias("total"),
        F.count("*").over(wseg).alias("n"),
    )
    return (
        ranked.filter(
            F.lit(PARETO_DEN) * col("cum") >= F.lit(PARETO_NUM) * col("total")
        )
        .groupBy(col("c_mktsegment").alias("segment"))
        .agg(
            F.min("n").cast("bigint").alias("n_customers"),
            F.min("rn").cast("bigint").alias("k_top"),
            (F.min("rn").cast("double") / F.min("n").cast("double")).alias("k_frac"),
            F.min("cum").cast("bigint").alias("cum_cents_at_k"),
            F.min("total").cast("bigint").alias("total_cents"),
            (F.min("cum").cast("double") / F.min("total").cast("double")).alias(
                "share_at_k"
            ),
        )
    )


pareto_front_customers.__doc__ = pareto_front_customers.__doc__.replace(
    "{PARETO_DEN}", str(PARETO_DEN)
).replace("{PARETO_NUM}", str(PARETO_NUM))


# ---------------------------------------------------------------------------
# Incremental continuous-aggregate maintenance (rollup merge vs recompute)
# ---------------------------------------------------------------------------

ROLLUP_INCR_ORACLE = """
SELECT date_trunc('hour', ts) AS h, event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4,
  MIN(value) AS vmin,
  MAX(value) AS vmax
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@register("rollup_incremental_merge", oracle=ROLLUP_INCR_ORACLE)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CONTINUOUS-AGGREGATE MAINTENANCE — the fourth (and
    most common in production) member of the incremental family
    (`dedup_incremental_minhash` near-dup, `ann_incremental_assign`
    vectors, `doc_novelty_incremental` content): the hourly rollup of
    ALL HISTORY (every day before the last observed midnight) is the
    persisted build-once artifact; the daily job rolls up ONLY the
    final day's events and MERGES (sum-of-sums / count-of-counts /
    min-of-mins / max-of-maxes — the decomposable-aggregate merge
    that makes rollups mergeable at all). The oracle recomputes the
    whole rollup from raw events, so the hash proves
    merge(hist_artifact, batch) ≡ recompute — the invariant every
    materialized-view maintenance system must hold.

    Scale shape: daily cost = one map-side-combined rollup of the
    batch day (partition-pruned at the scan when events are
    date-partitioned) + a merge aggregate over two ROLLUP-sized
    tables — corpus re-scan cost: zero, which is the entire point at
    100 TB. The exact sum rides 1e4 fixed-point bigints.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    ev = load_table(spark, sf_dir, "events")
    maxd = ev.agg(F.max(F.to_date(col("ts"))).alias("maxd"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", col("ts")).alias("h"), "event_type"
        ).agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("sum_e4"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )

    def build_hist() -> DataFrame:
        # events scan + watermark derive INSIDE the builder
        # (fingerprint discipline: closure-captured frames are
        # invisible to the store's code hash; rollup is a captured
        # FUNCTION, which the token does recurse into)
        hev = load_table(spark, sf_dir, "events")
        hmaxd = hev.agg(F.max(F.to_date(col("ts"))).alias("maxd"))
        return rollup(
            hev.crossJoin(F.broadcast(hmaxd)).filter(
                F.to_date(col("ts")) < col("maxd")
            )
        )

    hist = artifact_memo(spark, ("hourly_rollup_hist", sf_dir), build_hist)
    batch = rollup(
        ev.crossJoin(F.broadcast(maxd)).filter(F.to_date(col("ts")) == col("maxd"))
    )
    return (
        hist.unionByName(batch)
        .groupBy("h", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_e4").cast("bigint").alias("sum_e4"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded-hop cheapest path (Bellman-Ford on fulfillment-lag weights)
# ---------------------------------------------------------------------------

BF_ROUNDS = 3  # ≤3-hop relaxation: bounded Bellman-Ford, no convergence test


def _cheapest_path_oracle() -> str:
    """Unrolled Bellman-Ford: each round relaxes every edge once
    (JOIN + MIN), then folds into the running distance table — the
    min-plus twin of the BFS unroll."""
    sql = f"""
WITH links AS (
  SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
    CAST(MIN(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE))
      AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS (SELECT a, b, w FROM links UNION ALL SELECT b, a, w FROM links),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
hub AS (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM hub)"""
    for r in range(1, BF_ROUNDS + 1):
        sql += f""",
c{r} AS (
  SELECT e.b AS node, MIN(d.dist + e.w) AS dist
  FROM d{r - 1} d JOIN edges e ON e.a = d.node GROUP BY e.b
),
d{r} AS (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{r - 1} UNION ALL SELECT node, dist FROM c{r}
  ) u GROUP BY node
)"""
    sql += f"""
SELECT node AS node_id, node % 2 = 1 AS is_supplier,
  dist AS lead_days
FROM d{BF_ROUNDS}
"""
    return sql


@register("cheapest_path_lead_time", oracle=_cheapest_path_oracle())
def cheapest_path_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED shortest path — {BF_ROUNDS} rounds of Bellman-Ford
    min-plus relaxation from the highest-degree trade-graph node,
    where each customer–supplier edge costs its MINIMUM fulfillment
    lag (ship date − order date, integer days): the result is, per
    reachable node, the smallest CUMULATIVE lead time over paths of
    ≤{BF_ROUNDS} hops — the supply-chain reachability question BFS
    (`bfs_distance_from_hub`) cannot answer because hop count ≠ cost.
    Bounded-hop relaxation is exact by construction (round k holds
    the optimum over ≤k-edge paths), so there is no convergence test
    to get wrong, and all distances are exact bigint day sums.

    Scale shape: each round is ONE edge-list join shuffling (node,
    dist) pairs plus a min-aggregate — the PageRank/LPA edge-join
    shape; the distance table is ≤ |reached nodes| rows and each
    retired round is unpersisted (LPA's O(1)-cached-storage
    discipline). Weights come from the same orders⋈lineitem rollup
    as the pair graph, combined map-side.
    """
    # the shared weighted edge artifact (ONE fact join serves this and
    # every `_trade_pairs` consumer) — memoized, so the warm path never
    # re-joins the fact tables (r8 verdict tasks 3+4).
    links = _trade_links_weighted(spark, sf_dir)
    edges = links.unionByName(
        links.select(col("b").alias("a"), col("a").alias("b"), "w")
    )
    deg = edges.groupBy(col("a").alias("node")).agg(F.count("*").alias("d"))
    hub = deg.orderBy(col("d").desc(), col("node").asc()).limit(1).select("node")
    dist = hub.select("node", F.lit(0).cast("bigint").alias("dist"))
    edges = edges.persist()
    # Checkpoint width for the node-sized round result scales with
    # the cluster instead of pinning an sf0.1 constant: ~1 partition
    # per 8 cores (local[32] → 4, the measured local sweet spot; a
    # 1000-executor cluster gets proportionally wider checkpoints
    # instead of serializing every round through 4 partitions).
    bf_width = max(4, spark.sparkContext.defaultParallelism // 8)
    for _ in range(BF_ROUNDS):
        # relaxed candidates stay UN-aggregated: the final min per node
        # folds them in one exchange (map-side combiners pre-collapse
        # the edge-sized flow), instead of a per-round candidate
        # groupBy + a second node groupBy — one shuffle and one stage
        # fewer per relax round. The round result is a node-sized
        # table (≤32 k rows at sf0.1), so it coalesces to a handful of
        # partitions and eagerly localCheckpoints: one job per round
        # with TRUNCATED lineage (no persist+count pair, no plan
        # re-growth round over round), and far fewer scheduler tasks
        # than 32 shuffle partitions of ~100 rows each.
        cand = dist.join(edges, dist.node == edges.a).select(
            col("b").alias("node"), (col("dist") + col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .coalesce(bf_width)
            .localCheckpoint(eager=True)
        )
    result = dist.select(
        col("node").alias("node_id"),
        (col("node") % 2 == 1).alias("is_supplier"),
        col("dist").alias("lead_days"),
    )
    return result


cheapest_path_lead_time.__doc__ = cheapest_path_lead_time.__doc__.replace(
    "{BF_ROUNDS}", str(BF_ROUNDS)
)


# ---------------------------------------------------------------------------
# Exact weighted median (cumulative-weight threshold crossing)
# ---------------------------------------------------------------------------

WEIGHTED_MEDIAN_ORACLE = """
WITH w AS (
  SELECT event_type, value, event_id,
    CAST(json_extract(props, '$.k') AS BIGINT) + 1 AS wt
  FROM events
),
c AS (
  SELECT event_type, value, wt,
    SUM(wt) OVER (
      PARTITION BY event_type ORDER BY value, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cumw,
    SUM(wt) OVER (PARTITION BY event_type) AS totw
  FROM w
)
SELECT event_type,
  MIN(value) AS wmedian,
  CAST(MIN(totw) AS BIGINT) AS total_weight
FROM c
WHERE 2 * cumw >= totw
GROUP BY event_type
"""


@register("weighted_median_value_type", oracle=WEIGHTED_MEDIAN_ORACLE)
def weighted_median_value_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median of event value per type, weighted by the
    integer payload weight ``k+1`` (importance sampling's inverse
    weights, ad-value weighting, token counts — anywhere the median
    must respect row mass, which plain ``percentile`` cannot). The
    weighted median is the smallest value whose CUMULATIVE weight
    reaches half the total; both engines compare ``2*cumw >= totw``
    in exact bigints, so there is no fractional threshold to round
    differently. Rows tied on value are ordered by event_id inside
    the cumsum, but the SELECTED value is order-invariant (the
    crossing row always lands inside the tied run), so the result is
    a function of the data, not the partitioning.

    Scale shape: a SIZE-GATED two-level prefix scan (operators/
    prefix.py — the cusum discipline): past SHARD_MIN_BYTES the
    cumulative weight runs per (event_type, monotone value-shard)
    with broadcast per-shard offsets reconstructing the exact global
    running sum, so parallelism scales with executors instead of the
    5-value type cardinality; below it (sf0.1 events is ~2 MiB) the
    sharded form's fixed overhead — a second scan for the bounds
    aggregate plus two tiny exchanges — exceeds the serialized sort
    it saves, so the gate keeps the cheap one-window plan (r10's only
    >20% small-SF regression, reclaimed here). Output is bitwise
    identical on BOTH sides of the gate; the gate input is a pure
    filesystem stat (tables.table_bytes), no extra Spark job.
    Measured with the gate (round 11): 0.67 s warm at sf0.1 (the
    single-window side; r10's sharded-everywhere form was 1.02), and
    the sharded side holds 1.23 s at 10x / 5.47 s at 100x — the 10x
    fixture's 16 MiB events already flips the gate, and the r10
    baseline was 6.0 s at 100x; the residual is the per-row JSON
    weight extraction, linear and shard-parallel. Weights stay bigint
    end to end (no double accumulation to drift).
    """
    from iot_sparkstreaming_spark.operators.prefix import two_level_prefix
    from iot_sparkstreaming_spark.tables import table_bytes

    ev = load_table(spark, sf_dir, "events")
    wt = (F.get_json_object(col("props"), "$.k").cast("bigint") + 1).alias("wt")
    w = ev.select("event_type", "value", "event_id", wt)
    c = two_level_prefix(
        spark,
        w,
        part="event_type",
        order_num=col("value"),
        tiebreaks=["event_id"],
        measures={"cumw": col("wt")},
        input_bytes=table_bytes(sf_dir, "events"),
    )
    return (
        c.filter(2 * col("cumw_pfx") >= col("cumw_tot"))
        .groupBy("event_type")
        .agg(
            F.min("value").alias("wmedian"),
            F.min("cumw_tot").cast("bigint").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-squared independence: event_type x market segment contingency cells
# ---------------------------------------------------------------------------

CHISQ_ORACLE = """
WITH j AS (
  SELECT event_type, c_mktsegment AS segment
  FROM events JOIN customer ON user_id = c_custkey
), cells AS (
  SELECT event_type, segment, COUNT(*) AS n FROM j GROUP BY event_type, segment
), t AS (
  SELECT event_type, segment, n,
    SUM(n) OVER (PARTITION BY event_type) AS r,
    SUM(n) OVER (PARTITION BY segment) AS c,
    SUM(n) OVER () AS nt
  FROM cells
)
SELECT event_type, segment,
  CAST(n AS BIGINT) AS n_events,
  CAST(r AS BIGINT) AS row_total,
  CAST(c AS BIGINT) AS col_total,
  CAST(nt AS BIGINT) AS n_total,
  CAST((r * c * 1000000) // nt AS BIGINT) AS expected_e6,
  CAST(nt * n - r * c AS DOUBLE) * CAST(nt * n - r * c AS DOUBLE)
    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nt AS DOUBLE)) AS chi_contrib
FROM t
"""


@register("chisq_type_segment", oracle=CHISQ_ORACLE)
def chisq_type_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON CHI-SQUARED independence decomposition between
    event_type and the acting customer's market segment — the
    categorical-vs-categorical association test the stats family
    lacked (Mann-Whitney covers ordinal-vs-binary, Cohen's kappa
    covers rater agreement). Output is one row per contingency CELL
    with observed count, both marginals, the 1e6-scaled expected
    count, and the cell's chi-squared contribution (observed -
    expected)^2 / expected — the additive decomposition analysts read
    to see WHICH cells drive dependence; the statistic itself is the
    sum of a dozens-of-rows column, deliberately left per-cell so no
    cross-row double summation order can flake the hash.

    Exactness: marginals and d = N*n - r*c are exact bigints (|d| <=
    N*max(n), inside int64 to ~3e9 fact rows; past that promote d to
    DECIMAL(38,0) — the oracle already rides DuckDB's int128).
    expected_e6 floor-divides exact integers. chi_contrib is IEEE
    double (d*d)/(r*c*N) with both engines given the identical
    parenthesization — correctly-rounded ops on exactly-converted
    integers, so bit-identical.

    Scale shape: one fact-side shuffle for the customer join (or
    broadcast when the dimension fits), one map-side-combined hash
    agg to |types| x |segments| cells (~25 rows); every window below
    runs on that tiny table. At 100 TB the join dominates; the test
    itself is metadata-priced.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = ev.join(F.broadcast(cust), col("user_id") == col("c_custkey")).select(
        "event_type", col("c_mktsegment").alias("segment")
    )
    cells = j.groupBy("event_type", "segment").agg(F.count("*").alias("n"))
    t = cells.select(
        "event_type",
        "segment",
        "n",
        F.sum("n").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("n").over(Window.partitionBy("segment")).alias("c"),
        F.sum("n").over(Window.partitionBy()).alias("nt"),
    )
    return t.select(
        "event_type",
        "segment",
        col("n").cast("bigint").alias("n_events"),
        col("r").cast("bigint").alias("row_total"),
        col("c").cast("bigint").alias("col_total"),
        col("nt").cast("bigint").alias("n_total"),
        F.expr("CAST((r * c * 1000000) div nt AS BIGINT)").alias("expected_e6"),
        F.expr(
            "CAST(nt * n - r * c AS DOUBLE) * CAST(nt * n - r * c AS DOUBLE)"
            " / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nt AS DOUBLE))"
        ).alias("chi_contrib"),
    )


# ---------------------------------------------------------------------------
# Calibration bins: score-bucketed purchase rate vs base rate (reliability)
# ---------------------------------------------------------------------------

#: ten fixed-width score bins over events.value; the clamp keeps the
#: >=500 tail in the last bin so the bins partition the domain.
CALIB_BIN_WIDTH = 50
CALIB_BINS = 10

CALIB_ORACLE = f"""
WITH scored AS (
  SELECT LEAST(CAST(FLOOR(value / {CALIB_BIN_WIDTH}.0) AS BIGINT),
               {CALIB_BINS - 1}) AS bin,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value >= 0.0
), bins AS (
  SELECT bin, COUNT(*) AS n, SUM(pos) AS n_pos FROM scored GROUP BY bin
), t AS (
  SELECT bin, n, n_pos,
    SUM(n) OVER () AS n_all, SUM(n_pos) OVER () AS pos_all
  FROM bins
)
SELECT CAST(bin AS BIGINT) AS bin,
  CAST(bin * {CALIB_BIN_WIDTH} AS BIGINT) AS bin_lo,
  CAST(n AS BIGINT) AS n_events,
  CAST(n_pos AS BIGINT) AS n_pos,
  CAST((n_pos * 1000000) // n AS BIGINT) AS pos_rate_e6,
  CAST((pos_all * 1000000) // n_all AS BIGINT) AS base_rate_e6,
  CAST((n_pos * n_all * 10000) // (n * pos_all) AS BIGINT) AS lift_e4
FROM t
"""


def calibration_score(df: DataFrame) -> DataFrame:
    """Map rows to (bin, pos): the clamp-to-last-bin bucketing and the
    purchase indicator — shared verbatim by the batch query and the
    streaming twin (streaming/pipelines.py streaming_calibration_bins)
    so both sides bucket identically by construction."""
    return df.filter(col("value") >= 0.0).select(
        F.least(
            F.floor(col("value") / CALIB_BIN_WIDTH).cast("bigint"),
            F.lit(CALIB_BINS - 1),
        ).alias("bin"),
        F.when(col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )


def calibration_finish(bins: DataFrame) -> DataFrame:
    """Final projection from per-bin (bin, n, n_pos) counts to the
    reliability report — windows on a {CALIB_BINS}-row table. Shared
    by the batch query and the streaming twin's assembler so the twin
    parity test compares the SAME arithmetic on both sides."""
    t = bins.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(Window.partitionBy()).alias("n_all"),
        F.sum("n_pos").over(Window.partitionBy()).alias("pos_all"),
    )
    return t.select(
        col("bin").cast("bigint").alias("bin"),
        (col("bin") * CALIB_BIN_WIDTH).cast("bigint").alias("bin_lo"),
        col("n").cast("bigint").alias("n_events"),
        col("n_pos").cast("bigint").alias("n_pos"),
        F.expr("CAST((n_pos * 1000000) div n AS BIGINT)").alias("pos_rate_e6"),
        F.expr("CAST((pos_all * 1000000) div n_all AS BIGINT)").alias(
            "base_rate_e6"
        ),
        F.expr(
            "CAST((n_pos * n_all * 10000) div (n * pos_all) AS BIGINT)"
        ).alias("lift_e4"),
    )


@register("calibration_bins_events", oracle=CALIB_ORACLE)
def calibration_bins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY / CALIBRATION CURVE: treat events.value as a model
    score, bucket it into {CALIB_BINS} fixed-width bins, and compare
    each bin's observed positive (purchase) rate against the corpus
    base rate, with the per-bin LIFT — the classifier-evaluation
    harness beside the confusion matrix (`lang_confusion_matrix`) and
    kappa: confusion answers "where does it err", calibration answers
    "can you trust the score as a probability", lift answers "is the
    top bin worth targeting".

    Fixed-width bins (same clamp discipline as
    ``value_histogram_events``) rather than ntile deciles ON PURPOSE:
    a global ntile is an all-rows single-partition window — the one
    plan shape this repo bans at 100 TB — while fixed bins ride the
    ordinary map-side-combined hash agg and the rank-based equi-depth
    variant already exists (`value_equidepth_bins_events`). Rates and
    lift are exact integer floor-divisions (1e6/1e4-scaled); lift's
    numerator n_pos*n_all stays inside int64 to ~3e9 rows (the oracle
    rides int128; past that promote to DECIMAL).

    Scale shape: one scan, one hash agg to {CALIB_BINS} rows,
    windows on the 10-row table. Metadata-priced after the scan. The
    per-bin counts are decomposable (count / sum), which is why the
    STREAMING twin (`streaming_calibration_bins`) is the built-in
    streaming aggregation maintaining the same counts incrementally —
    bucketing (:func:`calibration_score`) and the final projection
    (:func:`calibration_finish`) are shared code, so twin parity is
    bitwise by construction and order-independent.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bins = calibration_score(ev).groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("pos").alias("n_pos")
    )
    return calibration_finish(bins)


calibration_bins_events.__doc__ = calibration_bins_events.__doc__.replace(
    "{CALIB_BINS}", str(CALIB_BINS)
)


# ---------------------------------------------------------------------------
# Spearman rank correlation: value vs arrival order, per event type
# ---------------------------------------------------------------------------

SPEARMAN_ORACLE = """
WITH ranked AS (
  SELECT event_type,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
      AS rv,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      AS rt
  FROM events
), s AS (
  SELECT event_type, COUNT(*) AS n,
    SUM((rv - rt) * (rv - rt)) AS sum_d2
  FROM ranked GROUP BY event_type
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_events,
  CAST(sum_d2 AS BIGINT) AS sum_d2,
  CAST(n * (n * n - 1) - 6 * sum_d2 AS DOUBLE)
    / CAST(n * (n * n - 1) AS DOUBLE) AS spearman_rho
FROM s
"""


@register("spearman_value_vs_time", oracle=SPEARMAN_ORACLE)
def spearman_value_vs_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between value and arrival order per
    event type — the monotone-trend detector that complements the
    family's PARAMETRIC Pearson members (`acf_user_value`,
    `ols_time_regression_user`: both assume linearity) and the robust
    Theil–Sen slope: Spearman sees ANY monotone drift, is immune to
    value outliers, and its entire computation is integer-exact. Both
    rank columns use a (sort key, event_id) TOTAL order, so ranks are
    tie-free permutations of 1..n and the textbook identity
    rho = 1 - 6*sum(d^2) / (n(n^2-1)) applies exactly (with ties one
    would switch to average ranks — the tie-broken variant is chosen
    BECAUSE it keeps both engines in exact integers end to end).

    sum_d2 and n(n^2-1) are exact bigints (n^3 inside int64 to ~2e6
    rows per type; past that promote the moments to DECIMAL — the
    oracle already rides int128); rho itself is the single IEEE
    double division of two exactly-computed integers, identically
    parenthesized on both engines — bit-identical.

    Scale shape: ONE exchange on event_type carries both row_number
    sorts and the final aggregate (same single-shuffle discipline as
    `weighted_median_value_type`); output is |types| rows. The
    all-rows-per-type window sort is the honest cost of exact ranks —
    the same cost the equi-depth histogram already pays.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "ts", "value")
    ranked = ev.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rv"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("rt"),
    )
    s = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            (col("rv").cast("bigint") - col("rt")) * (col("rv").cast("bigint") - col("rt"))
        ).alias("sum_d2"),
    )
    return s.select(
        "event_type",
        col("n").cast("bigint").alias("n_events"),
        col("sum_d2").cast("bigint").alias("sum_d2"),
        F.expr(
            "CAST(n * (n * n - 1) - 6 * sum_d2 AS DOUBLE)"
            " / CAST(n * (n * n - 1) AS DOUBLE)"
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the trade graph (iterative algorithm #5)
# ---------------------------------------------------------------------------

HITS_SCALE = 1_000_000
HITS_ROUNDS = 2


def _hits_oracle() -> str:
    """Unrolled fixed-round oracle: each HITS half-step is a
    join+aggregate plus a max-normalization, exactly the update the
    Spark loop runs — the pagerank/k-core unroll discipline, with the
    max carried as a 1-row cross join."""
    sql = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT a AS node, CAST({HITS_SCALE} AS BIGINT) AS v FROM pairs)"""
    prev_h = "h0"
    for i in range(1, HITS_ROUNDS + 1):
        sql += f""",
a{i}r AS (
  SELECT p.b AS node, SUM(h.v) AS s
  FROM pairs p JOIN {prev_h} h ON p.a = h.node GROUP BY p.b
),
a{i} AS (SELECT node, (s * {HITS_SCALE}) // mx AS v
         FROM a{i}r, (SELECT MAX(s) AS mx FROM a{i}r)),
h{i}r AS (
  SELECT p.a AS node, SUM(a.v) AS s
  FROM pairs p JOIN a{i} a ON p.b = a.node GROUP BY p.a
),
h{i} AS (SELECT node, (s * {HITS_SCALE}) // mx AS v
         FROM h{i}r, (SELECT MAX(s) AS mx FROM h{i}r))"""
        prev_h = f"h{i}"
    sql += f"""
SELECT node AS node_id, TRUE AS is_supplier, CAST(v AS BIGINT) AS score
FROM a{HITS_ROUNDS}
UNION ALL
SELECT node AS node_id, FALSE AS is_supplier, CAST(v AS BIGINT) AS score
FROM h{HITS_ROUNDS}
"""
    return sql


@register("hits_trade_graph", oracle=_hits_oracle())
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED bipartite trade graph
    (customer → supplier edges from the shared `_trade_pairs`
    artifact) — the link-analysis member PageRank cannot replace:
    PageRank symmetrizes this graph into one undirected prestige
    score, while HITS keeps the two ROLES apart — customers score as
    HUBS (they buy from strong suppliers), suppliers as AUTHORITIES
    (they are bought by strong customers) — the mutually-recursive
    definition from Kleinberg's original formulation.

    Exactness: the float algorithm L2-normalizes each half-step; this
    one MAX-normalizes instead — score' = (raw * 1e6) div max(raw) —
    because max is exactly representable and the bigint floor-division
    is bit-reproducible on both engines, while an L2 norm needs a
    square root. Max-normalization preserves the fixpoint direction
    (scores stay in 0..1e6, rankings converge identically) and keeps
    every intermediate inside int64: raw sums are bounded by
    max_degree * 1e6 (~1e17 even at a 100k-degree hub). The oracle
    unrolls the identical update into {HITS_ROUNDS} rounds of plain
    CTEs (the pagerank discipline), with each max a 1-row subquery
    cross join.

    Scale shape: each half-step is ONE equi-join of the edge list
    with a node-sized score table plus a map-side-combined sum; the
    max is a 1-row broadcast. Edge list shuffles once per half-step on
    its join key — the same per-round cost envelope as pagerank, and
    the memoized `_trade_pairs` artifact means no fact re-scan.
    """
    from iot_sparkstreaming_spark.artifacts import artifact_memo

    def build():
        pairs = _trade_pairs(spark, sf_dir)
        h = (
            pairs.select("a")
            .distinct()
            .select(col("a").alias("node"), F.lit(HITS_SCALE).cast("bigint").alias("v"))
        )
        a = None
        for _ in range(HITS_ROUNDS):
            ar = (
                pairs.join(h, pairs["a"] == h["node"])
                .groupBy("b")
                .agg(F.sum("v").alias("s"))
            )
            a = ar.crossJoin(F.broadcast(ar.agg(F.max("s").alias("mx")))).select(
                col("b").alias("node"),
                F.expr(f"(s * {HITS_SCALE}) div mx").alias("v"),
            )
            hr = (
                pairs.join(a, pairs["b"] == a["node"])
                .groupBy("a")
                .agg(F.sum("v").alias("s"))
            )
            h = hr.crossJoin(F.broadcast(hr.agg(F.max("s").alias("mx")))).select(
                col("a").alias("node"),
                F.expr(f"(s * {HITS_SCALE}) div mx").alias("v"),
            )
        auth = a.select(
            col("node").alias("node_id"),
            F.lit(True).alias("is_supplier"),
            col("v").cast("bigint").alias("score"),
        )
        hubs = h.select(
            col("node").alias("node_id"),
            F.lit(False).alias("is_supplier"),
            col("v").cast("bigint").alias("score"),
        )
        return auth.unionAll(hubs)

    return artifact_memo(spark, ("hits_trade_graph", sf_dir), build)


hits_trade_graph.__doc__ = hits_trade_graph.__doc__.replace(
    "{HITS_ROUNDS}", str(HITS_ROUNDS)
)


# ---------------------------------------------------------------------------
# Holt-Winters seasonal smoothing (level + trend + additive m=4 season)
# ---------------------------------------------------------------------------


HOLT_WINTERS_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rkd
  FROM events
),
w AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rkd DESC) AS rk,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM ev WHERE rkd <= {HW_WINDOW}
),
init AS (
  SELECT user_id, n,
    MAX(CASE WHEN rk = 1 THEN value END) AS x1,
    MAX(CASE WHEN rk = 2 THEN value END) AS x2,
    MAX(CASE WHEN rk = 3 THEN value END) AS x3,
    MAX(CASE WHEN rk = 4 THEN value END) AS x4
  FROM w WHERE n >= 4 GROUP BY user_id, n
),
hw AS (
  SELECT user_id, 4 AS step, n,
    (x1 + x2 + x3 + x4) / 4.0 AS l,
    CAST(0.0 AS DOUBLE) AS b,
    x1 - (x1 + x2 + x3 + x4) / 4.0 AS s0,
    x2 - (x1 + x2 + x3 + x4) / 4.0 AS s1,
    x3 - (x1 + x2 + x3 + x4) / 4.0 AS s2,
    x4 - (x1 + x2 + x3 + x4) / 4.0 AS s3
  FROM init
  UNION ALL
  SELECT w.user_id, hw.step + 1, hw.n,
    0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b),
    0.25 * ((0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b)) - hw.l) + 0.75 * hw.b,
    CASE WHEN hw.step % 4 = 0
         THEN 0.5 * (w.value - (0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s0 ELSE hw.s0 END,
    CASE WHEN hw.step % 4 = 1
         THEN 0.5 * (w.value - (0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s1 ELSE hw.s1 END,
    CASE WHEN hw.step % 4 = 2
         THEN 0.5 * (w.value - (0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s2 ELSE hw.s2 END,
    CASE WHEN hw.step % 4 = 3
         THEN 0.5 * (w.value - (0.5 * (w.value - CASE hw.step % 4 WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2 ELSE hw.s3 END) + 0.5 * (hw.l + hw.b))) + 0.5 * hw.s3 ELSE hw.s3 END
  FROM hw JOIN w ON w.user_id = hw.user_id AND w.rk = hw.step + 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_samples, l AS level, b AS trend,
  CASE n % 4 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 ELSE s3 END
    AS season_next,
  l + b + (CASE n % 4 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2
           ELSE s3 END) AS forecast_1
FROM hw WHERE step = n
"""


@register("holt_winters_seasonal_user", oracle=HOLT_WINTERS_ORACLE)
def holt_winters_seasonal_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple-exponential smoothing per user —
    the SEASONAL member that completes the forecasting ladder (EWMA =
    level, `holt_linear_forecast_user` = level+trend, this = level+
    trend+season): a 4-phase additive seasonal state beside level and
    trend, alpha=1/2 beta=1/4 gamma=1/2 all DYADIC so every multiply
    is a power-of-two scale and the recursion accumulates no rounding
    of its own. Init is the textbook one-season bootstrap: l_4 =
    mean(x_1..x_4) (a /4, dyadic), b_4 = 0, s_i = x_i - l_4; update
    for t > 4 with phase p = (t-1) mod 4:
    l_t = alpha*(x_t - s_p) + (1-alpha)(l+b);
    b_t = beta*(l_t - l) + (1-beta)*b;
    s_p' = gamma*(x_t - l_t) + (1-gamma)*s_p.

    The recursion is sequential, so it runs as a Pandas kernel over
    per-user trailing-{HW_WINDOW} window ARRAYS (collect_list →
    mapInPandas, the `holt` batching discipline); the DuckDB
    RECURSIVE-CTE oracle carries (l, b,
    s0..s3) and evaluates the IDENTICAL double expression trees in
    the identical order — bit-for-bit, no tolerance. Users with
    fewer than one full season (4 samples) are excluded by both
    sides (you cannot bootstrap a seasonal index you never saw).

    Scale shape: one user_id exchange; per-user arrays capped at
    {HW_WINDOW} values by the rank prefilter BEFORE Python, so Arrow
    batches stay bounded no matter how hot a user is.
    """
    recent = _recent_per_user(spark, sf_dir)

    def hw(batches):
        import pandas as pd

        cols = [
            "user_id", "n_samples", "level", "trend",
            "season_next", "forecast_1",
        ]
        for pdf in batches:
            rows = []
            for uid, arr in zip(pdf["user_id"], pdf["xs"]):
                xs = [float(e["value"]) for e in arr]
                n = len(xs)
                if n < 4:
                    continue
                x1, x2, x3, x4 = xs[:4]
                l = (x1 + x2 + x3 + x4) / 4.0
                b = 0.0
                s = [x1 - l, x2 - l, x3 - l, x4 - l]
                for t in range(5, n + 1):
                    x = xs[t - 1]
                    p = (t - 1) % 4
                    ln = 0.5 * (x - s[p]) + 0.5 * (l + b)
                    bn = 0.25 * (ln - l) + 0.75 * b
                    s[p] = 0.5 * (x - ln) + 0.5 * s[p]
                    l, b = ln, bn
                season_next = s[n % 4]
                rows.append(
                    {
                        "user_id": int(uid),
                        "n_samples": n,
                        "level": l,
                        "trend": b,
                        "season_next": season_next,
                        "forecast_1": l + b + season_next,
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return recent.mapInPandas(
        hw,
        schema=(
            "user_id bigint, n_samples bigint, level double, trend double, "
            "season_next double, forecast_1 double"
        ),
    )


holt_winters_seasonal_user.__doc__ = holt_winters_seasonal_user.__doc__.replace(
    "{HW_WINDOW}", str(HW_WINDOW)
)


# ---------------------------------------------------------------------------
# Welch two-sample t-test: purchase value vs view value
# ---------------------------------------------------------------------------

WELCH_ORACLE = """
WITH m AS (
  SELECT
    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE) AS na,
    CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS nb,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(38,4)) END) AS DOUBLE) AS sa,
    CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(value AS DECIMAL(38,4)) END) AS DOUBLE) AS sb,
    CAST(SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4))
             END) AS DOUBLE) AS qa,
    CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4))
             END) AS DOUBLE) AS qb
  FROM events
), v AS (
  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
    (na * qa - sa * sa) / (na * (na - 1)) AS va,
    (nb * qb - sb * sb) / (nb * (nb - 1)) AS vb
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_purchase, CAST(nb AS BIGINT) AS n_view,
  ma AS mean_purchase, mb AS mean_view,
  va AS var_purchase, vb AS var_view,
  (ma - mb) / sqrt(va / na + vb / nb) AS t_stat,
  (va / na + vb / nb) * (va / na + vb / nb)
    / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
    AS welch_dof
FROM v
"""


@register("welch_t_test_purchase_view", oracle=WELCH_ORACLE)
def welch_t_test_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S UNEQUAL-VARIANCE t-TEST between purchase and view
    values — the parametric two-sample member beside the rank-based
    Mann-Whitney U (`mann_whitney_events`): U asks "does one
    distribution stochastically dominate", Welch asks "do the MEANS
    differ, without assuming equal variances", and the
    Welch-Satterthwaite effective degrees of freedom is the part
    naive pooled-variance t gets wrong. Moments ride the house exact
    discipline (values quantized to DECIMAL(19,4), sums and
    sum-of-squares exact, ONE cast to double at the end); every
    downstream expression — sample variances via the cross-multiplied
    (n*q - s^2)/(n(n-1)) form, the t statistic, the dof ratio — is an
    identically-parenthesized IEEE tree whose only non-arithmetic op
    is sqrt, which IEEE 754 requires correctly rounded (unlike ln/exp,
    which is why the KS and chi-squared members avoid p-values).

    Scale shape: ONE conditional-aggregate pass over the fact scan
    (map-side combined to a single row); everything after is scalar
    math on that row. The cheapest possible two-sample test at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    da = F.when(col("event_type") == "purchase", col("value").cast("decimal(19,4)"))
    db = F.when(col("event_type") == "view", col("value").cast("decimal(19,4)"))
    m = ev.agg(
        F.count(F.when(col("event_type") == "purchase", 1)).cast("double").alias("na"),
        F.count(F.when(col("event_type") == "view", 1)).cast("double").alias("nb"),
        F.sum(
            F.when(
                col("event_type") == "purchase", col("value").cast("decimal(38,4)")
            )
        )
        .cast("double")
        .alias("sa"),
        F.sum(
            F.when(col("event_type") == "view", col("value").cast("decimal(38,4)"))
        )
        .cast("double")
        .alias("sb"),
        F.sum(da * da).cast("double").alias("qa"),
        F.sum(db * db).cast("double").alias("qb"),
    )
    v = m.select(
        "na",
        "nb",
        F.expr("sa / na").alias("ma"),
        F.expr("sb / nb").alias("mb"),
        F.expr("(na * qa - sa * sa) / (na * (na - 1))").alias("va"),
        F.expr("(nb * qb - sb * sb) / (nb * (nb - 1))").alias("vb"),
    )
    return v.select(
        col("na").cast("bigint").alias("n_purchase"),
        col("nb").cast("bigint").alias("n_view"),
        col("ma").alias("mean_purchase"),
        col("mb").alias("mean_view"),
        col("va").alias("var_purchase"),
        col("vb").alias("var_view"),
        F.expr("(ma - mb) / sqrt(va / na + vb / nb)").alias("t_stat"),
        F.expr(
            "(va / na + vb / nb) * (va / na + vb / nb)"
            " / ((va / na) * (va / na) / (na - 1)"
            " + (vb / nb) * (vb / nb) / (nb - 1))"
        ).alias("welch_dof"),
    )
