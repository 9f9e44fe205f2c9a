"""Window functions (SURVEY.md §2e).

The reference contains no SQL window functions — windows are the
idiomatic Spark realization of its declared semantics: CDC latest-wins
merge (raw_provider_postgres.sql:9-10), dedup survivor choice
(datagen.py:167), CDC before/after comparison (provider.json:13
``payload.before``/``after``), and Elementary's rolling volume metrics
(app.py:52-58). Every window here partitions by a real key so work
distributes; none uses a global (unpartitioned) ordering, which would
serialize onto one task at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..cdc.batch import latest_wins
from ..functions import ts_str
from ..registry import query


@query(
    "window_row_number",
    oracle="""
    SELECT user_id, event_id, event_type, rn
    FROM (
      SELECT user_id, event_id, event_type,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row_number over partition/order — first 3 events per user."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", "rn")
    )


@query(
    "window_rank",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, bal_rank, bal_dense_rank
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             CAST(rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_rank,
             CAST(dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_dense_rank
      FROM customer
    ) WHERE bal_rank <= 5
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: rank/dense_rank — top-balance customers per nation (the
    dedup-survivor-choice shape)."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("bal_rank", F.rank().over(w).cast("bigint"))
        .withColumn("bal_dense_rank", F.dense_rank().over(w).cast("bigint"))
        .filter(F.col("bal_rank") <= 5)
        .select("c_nationkey", "c_custkey", "c_acctbal", "bal_rank", "bal_dense_rank")
    )


@query(
    "window_sliding_avg",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER w10, 2) / count(*) OVER w10 AS moving_avg,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
    FROM events
    WINDOW w10 AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def window_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sliding-frame aggregation — Elementary's rolling volume
    metric shape (app.py:52-58): 10-row moving average + running sum
    per user. The moving average is round(sum,2)/count with NO outer
    round: rounding the frame sum (2-decimal inputs → exact at 2dp)
    collapses engine-specific accumulation differences onto the same
    double, and IEEE division of identical doubles is bit-identical on
    both engines — whereas rounding the quotient would land exactly on
    decimal boundaries (sum/8 has 5 decimals) where the engines' round
    algorithms disagree."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame10 = w.rowsBetween(-9, 0)
    return ev.select(
        "user_id",
        "event_id",
        (F.round(F.sum("value").over(frame10), 2) / F.count("*").over(frame10)).alias(
            "moving_avg"
        ),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_sum"
        ),
    )


@query(
    "window_lag",
    oracle="""
    SELECT user_id, event_id,
           round(value, 2) AS value,
           round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta,
           CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
             AS ms_since_prev
    FROM events
    """,
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: lag/lead — the CDC before/after delta (provider.json:13
    carries ``payload.before`` and ``payload.after`` row images; lag
    reconstructs the same comparison from an ordered event log)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_val = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.round(prev_val, 2).alias("prev_value"),
        F.round(F.col("value") - prev_val, 2).alias("delta"),
        (F.unix_millis("ts") - F.unix_millis(prev_ts)).alias("ms_since_prev"),
    )


@query(
    "window_suite",
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
           CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC NULLS LAST, event_id) AS BIGINT) AS val_rank,
           CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC NULLS LAST, event_id) AS BIGINT) AS val_dense_rank,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 2)
             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS moving_avg,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
           round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta,
           CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
             AS ms_since_prev
    FROM events
    """,
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2+W3+W4 composite (driver row for the window family; singles
    above are local-only and document each operator): row_number,
    rank/dense_rank, sliding-frame avg + running sum, lag deltas — all
    partitioned by user_id so one exchange serves every function (the
    time-ordered and value-ordered specs share the partitioning; Spark
    reuses the shuffle and only re-sorts). Float discipline per
    window_sliding_avg: round the frame sum at input decimal width,
    never the quotient."""
    ev = table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id")
    )
    frame10 = wt.rowsBetween(-9, 0)
    run = wt.rowsBetween(Window.unboundedPreceding, 0)
    prev_val = F.lag("value").over(wt)
    prev_ts = F.lag("ts").over(wt)
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(wt).cast("bigint").alias("rn"),
        F.rank().over(wv).cast("bigint").alias("val_rank"),
        F.dense_rank().over(wv).cast("bigint").alias("val_dense_rank"),
        (F.round(F.sum("value").over(frame10), 2) / F.count("*").over(frame10)).alias(
            "moving_avg"
        ),
        F.round(F.sum("value").over(run), 2).alias("running_sum"),
        F.round(prev_val, 2).alias("prev_value"),
        F.round(F.col("value") - prev_val, 2).alias("delta"),
        (F.unix_millis("ts") - F.unix_millis(prev_ts)).alias("ms_since_prev"),
    )


@query(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(10) OVER w AS INTEGER) AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family completion: the three distribution window functions —
    percent_rank, cume_dist, ntile(10) — over one shared window spec
    (per-priority price order), which Catalyst folds into a single
    Window operator: one shuffle, one sort, three functions. Both
    quotients are rank/count integer ratios computed in double, so the
    values are bit-identical cross-engine without rounding. The
    ordering includes the key (o_orderkey) so all three outputs are
    total-order deterministic."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


SESSION_GAP_MS = 30 * 60 * 1000


@query(
    "sessionize_gaps",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_ms(ts) AS ms FROM events
      WHERE ts IS NOT NULL
    ),
    gapped AS (
      SELECT user_id, event_id, ts, ms,
             CASE WHEN ms - lag(ms) OVER w > {SESSION_GAP_MS}
                    OR lag(ms) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    ),
    sessioned AS (
      SELECT user_id, event_id, ts,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ms, event_id) AS BIGINT) AS session_idx
      FROM gapped
    )
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS t_start, max(ts) AS t_end
    FROM sessioned
    GROUP BY user_id, session_idx
    """,
)
def sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via the lag/gap/cumsum window pattern: a
    new session starts after a >30-minute silence, session ids are the
    running count of session starts per user, then one aggregate rolls
    each session up. This is the portable SQL form of what
    ``session_window`` (the streaming T6 twin) does natively — both
    exist because the window form back-fills HISTORY on any engine and
    composes with arbitrary per-session aggregates, while
    session_window is the one that runs incrementally under
    watermarks. One shuffle (user partition), both window specs share
    it, map-side-combined rollup. Gap arithmetic is integer epoch-ms
    so both engines agree exactly."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ms = F.unix_millis("ts")
    w = Window.partitionBy("user_id").orderBy(ms, "event_id")
    new_session = (
        (ms - F.lag(ms, 1).over(w) > SESSION_GAP_MS) | F.lag(ms, 1).over(w).isNull()
    ).cast("int")
    sessioned = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_session).over(w).cast("bigint").alias("session_idx"),
    )
    return sessioned.groupBy("user_id", "session_idx").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )


@query(
    "events_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(ts) FILTER (event_type = 'signup') AS t_signup,
             min(ts) FILTER (event_type = 'view') AS t_view,
             min(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events WHERE ts IS NOT NULL
      GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_signup) AS BIGINT) AS n_signup,
           CAST(count(CASE WHEN t_view > t_signup THEN 1 END) AS BIGINT)
             AS n_signup_view,
           CAST(count(CASE WHEN t_purchase > t_view AND t_view > t_signup THEN 1 END)
             AS BIGINT) AS n_full_funnel
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis — ordered-step conversion counts under the
    FIRST-OCCURRENCE definition (the user's first view happened after
    their first signup, first purchase after that; the stricter
    any-qualifying-subsequence form needs a per-user ordered scan —
    a sessionize_gaps-style window — where this shape needs none):
    conditional-min aggregates collapse each user to one row of
    first-occurrence timestamps, then one global aggregate counts
    stage survivors. Two map-side-combined
    aggregations, one shuffle keyed by user, final single-row
    reduce — the shape that holds at any user cardinality (no join,
    no window, no per-user explode). NULL-safe by construction:
    missing stages are NULL and comparisons with NULL drop the user
    from later stages exactly like the oracle's CASE arms."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("t_signup").cast("bigint").alias("n_signup"),
        F.count(F.when(F.col("t_view") > F.col("t_signup"), 1))
        .cast("bigint")
        .alias("n_signup_view"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_view"))
                & (F.col("t_view") > F.col("t_signup")),
                1,
            )
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


@query(
    "events_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    cal AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    f AS (
      SELECT c.user_id, c.day, d.n, d.v
      FROM cal c LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           coalesce(n, CAST(0 AS BIGINT)) AS n_events,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
           n IS NULL AS is_gap
    FROM f
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user daily rollup, then the
    missing calendar days inside each user's active span are
    materialized (``sequence`` of dates exploded per user — the
    calendar is generated from each group's own min/max, never a
    driver-side date loop) and the last observed daily value is
    carried forward (``last(..., ignorenulls)`` running window). The
    pattern behind feature stores and monitoring rollups: downstream
    models need one row per entity per period, not a sparse stream.

    Scale: the rollup is one map-side-combined aggregation; the
    calendar explode is bounded by span-days per user (not corpus
    rows); the forward-fill window partitions by user, so state is one
    value per partition — no global sort anywhere. Daily sums are
    rounded at the inputs' 2-decimal width (the aggregates.py parity
    discipline) BEFORE the fill, so the carried value is identical in
    both engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("v"),
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    f = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return f.select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("n").isNull().alias("is_gap"),
    )


@query(
    "events_retention_curve",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    active AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active FROM du GROUP BY day),
    first_seen AS (SELECT user_id, min(day) AS day FROM du GROUP BY user_id),
    news AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY day)
    SELECT a.day, a.n_active,
           coalesce(n.n_new, CAST(0 AS BIGINT)) AS n_new,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY a.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM active a LEFT JOIN news n ON a.day = n.day
    """,
)
def events_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting curve: daily active users, newly-seen users
    (first-ever activity that day), and the cumulative user count —
    the acquisition/retention decomposition every product dashboard
    starts from. Two map-side-combined aggregations over the distinct
    (day, user) frame; the cumulative sum runs on the per-DAY frame
    (calendar-sized — the one place an unpartitioned running window is
    correct, because the input is already reduced to ~rows-per-day;
    the corpus-sized stream never sees it)."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    active = du.groupBy("day").agg(F.count("*").cast("bigint").alias("n_active"))
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("day"))
    news = first_seen.groupBy("day").agg(F.count("*").cast("bigint").alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        active.join(news, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0).cast("bigint")).alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
    )


EMA_HALF_LIFE_DAYS = 7.0


@query(
    "events_ema",
    oracle=f"""
    WITH w AS (
      SELECT user_id, value,
             CAST(epoch_ms(ts) AS DOUBLE) AS ts_ms,
             max(CAST(epoch_ms(ts) AS DOUBLE)) OVER (PARTITION BY user_id) AS t_ms
      FROM events
    ),
    terms AS (
      SELECT user_id, value,
             exp(-ln(2.0) / {EMA_HALF_LIFE_DAYS} * ((t_ms - ts_ms) / 86400000.0)) AS wt
      FROM w
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * wt), 6) / round(sum(wt), 6) AS ema_value
    FROM terms GROUP BY user_id
    """,
)
def events_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed average per user (7-day half-life), anchored at
    each user's latest event — the recency-weighted feature ("what is
    this user's value trending at") feature stores compute instead of
    flat means. One window (per-user max ts) + one aggregation; the
    decay weight is a map-side expression.

    Float parity: exp() differs across engines in the last ulps and
    the sums accumulate in different orders, so BOTH sums round at 6dp
    FIRST and the quotient of the now-identical doubles divides
    exactly — rounding the quotient itself would hit decimal-boundary
    disagreement (the aggregates.py avg discipline)."""
    terms = decayed_terms(table(spark, sf_dir, "events"))
    return terms.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        ema_agg().alias("ema_value"),
    )


def decayed_terms(ev: DataFrame) -> DataFrame:
    """(user_id, value, wt): each event's decay weight anchored at its
    user's latest event — shared by events_ema and the feature-store
    build so the decay definition exists once."""
    import math

    wu = Window.partitionBy("user_id")
    ts_ms = F.unix_millis("ts").cast("double")
    lam = math.log(2.0) / EMA_HALF_LIFE_DAYS
    w = ev.select(
        "user_id",
        "value",
        ts_ms.alias("ts_ms"),
        F.max(ts_ms).over(wu).alias("t_ms"),
    )
    return w.select(
        "user_id",
        "value",
        F.exp(F.lit(-lam) * ((F.col("t_ms") - F.col("ts_ms")) / 86400000.0)).alias("wt"),
    )


def ema_agg() -> F.Column:
    """round-both-sums-then-divide EMA aggregate (the avg parity
    discipline) over a decayed_terms frame.

    Parity caveat (advice finding): unlike the 2dp money sums — whose
    addends are decimally exact, making the rounded prefix sums exact —
    the decay weights here are irrational exp() terms, so rounding the
    float sums at 6dp is PROBABILISTIC parity: cross-engine equality
    holds as long as sum-order drift (≲5e-7 at fixture per-user event
    counts) does not straddle a rounding boundary. If a much larger
    fixture ever flakes here, the remedy is the char-entropy treatment:
    sort-stabilize the summation (collect_list sorted by ts, fold
    left-to-right) so both engines add in the same order."""
    return F.round(F.sum(F.col("value") * F.col("wt")), 6) / F.round(F.sum("wt"), 6)


@query(
    "events_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / tt.n_from AS p
    FROM trans t JOIN totals tt USING (from_type)
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the model behind
    next-action prediction, funnel leak localization, and bot
    detection (bot sessions have degenerate transition rows). One
    per-user lag window (partitioned, event_id tiebreak for same-ts
    determinism) + two map-side-combined counts; the probability is an
    exact integer ratio, division of identical ints — no rounding
    needed (the engines divide identical doubles identically). Output
    is |event types|² rows — model-sized regardless of corpus."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


@query(
    "customers_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate), (SELECT mx FROM anchor)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r,
             CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f,
             CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m
      FROM cust
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           r * 100 + f * 10 + m AS rfm_code
    FROM scored
    """,
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value decomposition:
    quintiles of Recency (days since last order, inverted so 5 = most
    recent), Frequency, and Monetary, packed into the 111-555 segment
    code marketing stacks key campaigns on. Ranks are ntile over
    (metric, custkey) — integer arithmetic, engine-exact, no float
    quantile boundaries to disagree on.

    Scale note: the ntile windows are GLOBAL sorts — correct here
    because they run on the customer-cardinality aggregate (orders of
    magnitude below fact volume), the same justification as the
    retention curve's calendar frame. A 1e9-customer deployment swaps
    them for approx_percentile boundary joins (dq_profile's sketch
    pattern) and accepts boundary-epsilon segment churn."""
    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.to_date("mx"), F.to_date("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r = F.ntile(5).over(Window.orderBy(F.col("recency_days").desc(), "o_custkey"))
    f = F.ntile(5).over(Window.orderBy("frequency", "o_custkey"))
    m = F.ntile(5).over(Window.orderBy("monetary", "o_custkey"))
    return cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (r.cast("bigint") * 100 + f.cast("bigint") * 10 + m.cast("bigint")).alias(
            "rfm_code"
        ),
    )


@query(
    "events_user_features",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
             CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS BIGINT)
               AS span_days,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY user_id
    ),
    decay AS (
      SELECT user_id,
             round(sum(value * wt), 6) / round(sum(wt), 6) AS ema_value
      FROM (
        SELECT user_id, value,
               exp(-ln(2.0) / {EMA_HALF_LIFE_DAYS}
                   * ((max(CAST(epoch_ms(ts) AS DOUBLE)) OVER (PARTITION BY user_id)
                       - CAST(epoch_ms(ts) AS DOUBLE)) / 86400000.0)) AS wt
        FROM events
      ) GROUP BY user_id
    ),
    last_ev AS (
      SELECT user_id, event_type AS last_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT b.user_id, b.n_events, b.n_types, b.active_days, b.span_days,
           b.total_value, d.ema_value, l.last_type
    FROM base b JOIN decay d USING (user_id) JOIN last_ev l USING (user_id)
    """,
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store build: one row per user with the features a
    churn/propensity model consumes — volume (n_events), breadth
    (n_types), engagement cadence (active_days vs span_days), value
    mass, the decayed recent-value EMA (shared decayed_terms
    definition), and the latest action. Three verified operator shapes
    composed in one lazy plan: a map-side-combined multi-aggregate,
    the decay window + rounded-sums division, and a latest-wins
    window — all partitioned by user, one shuffle key throughout, so
    the whole build co-partitions and AQE can collapse the joins into
    the same exchange."""
    ev = table(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("active_days"),
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
        .cast("bigint")
        .alias("span_days"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    decay = decayed_terms(ev).groupBy("user_id").agg(ema_agg().alias("ema_value"))
    last_ev = latest_wins(ev, "user_id", ["ts", "event_id"]).select(
        "user_id", F.col("event_type").alias("last_type")
    )
    return base.join(decay, "user_id").join(last_ev, "user_id")


@query(
    "orders_cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS am
      FROM orders
    ),
    cohorts AS (
      SELECT o_custkey, min(am) AS cohort_month FROM activity GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_month, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohorts GROUP BY cohort_month
    ),
    joined AS (
      SELECT c.cohort_month,
             CAST(datediff('month', c.cohort_month, a.am) AS BIGINT) AS month_offset,
             a.o_custkey
      FROM activity a JOIN cohorts c USING (o_custkey)
    )
    SELECT strftime(j.cohort_month, '%Y-%m') AS cohort,
           j.month_offset,
           CAST(count(DISTINCT j.o_custkey) AS BIGINT) AS n_active,
           s.cohort_size,
           CAST(count(DISTINCT j.o_custkey) AS DOUBLE) / s.cohort_size AS retention
    FROM joined j JOIN sizes s USING (cohort_month)
    GROUP BY j.cohort_month, j.month_offset, s.cohort_size
    """,
)
def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort retention matrix — the canonical growth-analytics
    table: customers grouped by first-order month (cohort), retention
    = share of the cohort active again N months later. Complements
    events_retention_curve (which counts users by calendar day, no
    cohort dimension): this is the month × offset triangle a growth
    dashboard heat-maps. Offset-0 retention is 1.0 by construction —
    a built-in self-check.

    Scale: two distinct-aggregations and one customer-keyed join, all
    partitioned by customer/cohort — cohort cardinality is months ×
    offsets (tiny); the fact table is touched once for the distinct
    activity set. Retention is an exact integer ratio — identical
    division both engines, no rounding policy needed."""
    o = table(spark, sf_dir, "orders")
    activity = o.select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("am")
    ).distinct()
    cohorts = activity.groupBy("o_custkey").agg(F.min("am").alias("cohort_month"))
    sizes = cohorts.groupBy("cohort_month").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    joined = activity.join(cohorts, "o_custkey").select(
        "cohort_month",
        (F.months_between("am", "cohort_month").cast("bigint")).alias("month_offset"),
        "o_custkey",
    )
    return (
        joined.join(F.broadcast(sizes), "cohort_month")
        .groupBy("cohort_month", "month_offset", "cohort_size")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("n_active"))
        .select(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
            "month_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention"),
        )
    )


@query(
    "orders_pareto_share",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT round(sum(revenue), 2) AS total FROM cust),
    ranked AS (
      SELECT o_custkey, revenue,
             CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey) AS BIGINT) AS rk,
             round(sum(revenue) OVER (
               ORDER BY revenue DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
      FROM cust
    )
    SELECT r.rk, r.o_custkey, r.revenue, r.cum_revenue,
           r.cum_revenue / t.total AS cum_share,
           CAST(r.rk AS DOUBLE) / (SELECT count(*) FROM cust) AS cust_share
    FROM ranked r CROSS JOIN tot t
    """,
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) curve: customers ranked by
    revenue with cumulative revenue share vs cumulative customer
    share — the table behind "the top X% of customers drive Y% of
    revenue" and the Lorenz/Gini family. The running sum ROUNDS at
    each step's 2dp width (cumulative sums of 2dp values are 2dp
    decimals, so the rounded prefix is exact and engine-identical);
    shares divide identical doubles — no quotient rounding.

    Scale note: the ranking is a global sort over the CUSTOMER
    aggregate (the RFM/retention justification — entity-cardinality,
    not fact-cardinality); at extreme entity counts the curve is
    usually wanted only at decile resolution, which approx_percentile
    boundaries deliver sort-free."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    # customer count rides the same 1-row total aggregate instead of an
    # eager cust.count() (which re-ran the orders scan+groupBy a second
    # time just to inline a literal — advice finding): one aggregate job,
    # both scalars broadcast together.
    tot = cust.agg(
        F.round(F.sum("revenue"), 2).alias("total"),
        F.count("*").alias("n_cust"),
    )
    w = Window.orderBy(F.col("revenue").desc(), "o_custkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = cust.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        "o_custkey",
        "revenue",
        F.round(F.sum("revenue").over(wsum), 2).alias("cum_revenue"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rk",
        "o_custkey",
        "revenue",
        "cum_revenue",
        (F.col("cum_revenue") / F.col("total")).alias("cum_share"),
        (F.col("rk").cast("double") / F.col("n_cust")).alias("cust_share"),
    )


@query(
    "window_resample_locf",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ), hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n_events,
             max(value) AS bucket_max
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT g.user_id,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S.%f') AS hour_ts,
           coalesce(h.n_events, 0) AS n_events,
           h.bucket_max,
           last_value(h.bucket_max IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf,
           (h.n_events IS NULL) AS gap_filled
    FROM grid g
    LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    """,
)
def window_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill — the feature-table shape every
    metrics/training pipeline builds from irregular event streams:
    per user, a DENSE hourly grid from first to last observation
    (sequence + explode: the grid is generated per key, partition-
    local, never a driver loop), per-bucket aggregates where events
    exist, and last-observation-carried-forward (``F.last`` with
    ignorenulls over an ordered per-user window — Spark's LOCF idiom)
    across the gaps, with the fill flagged rather than silent.

    Scale: two grouped aggregates + one (user, hour) equi-join + one
    per-user window — every shuffle is keyed by user_id (or its
    (user, hour) refinement); grid fan-out is span-bounded (~720
    rows/user-month) and generated where the key already lives. The
    leading bucket always holds the user's first event, so value_locf
    is total (no leading-null branch to special-case). Determinism:
    max() per bucket (never avg — float sum order), timestamps
    rendered through ts_str for the hash."""
    ev = table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy("user_id", hour.alias("hour")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("value").alias("bucket_max"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        ts_str("hour").alias("hour_ts"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "bucket_max",
        F.last("bucket_max", ignorenulls=True).over(w).alias("value_locf"),
        F.col("n_events").isNull().alias("gap_filled"),
    )
