"""Event-stream operators over the `events` table: as-of join,
sessionization, tumbling-window aggregation, JSON extraction, pivot.

These are batch-mode definitions; incubator_xtable_spark.streaming mirrors
the tumbling-window aggregation as a Structured Streaming job and pytest
asserts batch == streaming (availableNow) equivalence.

The as-of join and sessionization are custom operators the reference lacks
(SURVEY.md §2.4 "Window functions: none") implemented as compositions of
built-in DataFrame ops — no UDFs, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_xtable_spark.operators.asof import asof_join
from incubator_xtable_spark.plans.common import money_out, t
from incubator_xtable_spark.plans.registry import register

# ---------------------------------------------------------------------------
# as-of join: each purchase matched to the latest view at-or-before it
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts, v.ts AS matched_ts, v.value AS matched_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT ts, value
  FROM events v
  WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts <= p.ts
  ORDER BY v.ts DESC, v.event_id DESC
  LIMIT 1
) v ON true
"""


@register(
    "events_asof_join",
    oracle=ASOF_ORACLE,
    category="events",
    description="as-of join (latest matching right row <= left ts) via union+window",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", F.col("event_id").alias("right_event_id")
    )
    return asof_join(
        left,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols={"matched_ts": "ts", "matched_value": "value"},
        right_tiebreak="right_event_id",
        left_unique="event_id",
    ).select("event_id", "user_id", "ts", "matched_ts", "matched_value")


# ---------------------------------------------------------------------------
# sessionization: 30-minute inactivity gap splits sessions
# ---------------------------------------------------------------------------

SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
FROM numbered
GROUP BY user_id, session_seq
"""


@register(
    "events_sessionize",
    oracle=SESSION_ORACLE,
    category="events",
    description="gap-based sessionization (30 min) via lag + running sum",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", F.unix_micros("ts").alias("ts_us"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# tumbling-window aggregation (batch twin of streaming.windowed_counts)
# ---------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value,
  count(DISTINCT user_id) AS n_users
FROM events
GROUP BY window_start, event_type
"""


@register(
    "events_tumbling_hourly",
    oracle=TUMBLING_ORACLE,
    category="events",
    description="1h tumbling window counts/sums (streaming twin)",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money_out(F.sum(F.col("value").cast("decimal(18,6)")), 6).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# JSON extraction from the props column
# ---------------------------------------------------------------------------

JSON_ORACLE = """
SELECT
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
"""


@register(
    "events_json_extract",
    oracle=JSON_ORACLE,
    category="events",
    description="JSON scalar extraction (Delta stats JSON parse analog)",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# pivot: per-user event-type counts
# ---------------------------------------------------------------------------

PIVOT_ORACLE = """
SELECT
  user_id,
  count(*) FILTER (WHERE event_type = 'click') AS click,
  count(*) FILTER (WHERE event_type = 'error') AS error,
  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  count(*) FILTER (WHERE event_type = 'signup') AS signup,
  count(*) FILTER (WHERE event_type = 'view') AS view
FROM events
GROUP BY user_id
"""

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_counts",
    oracle=PIVOT_ORACLE,
    category="events",
    description="pivot event_type into per-user count columns",
)
def events_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pivoted = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    # pivot-count leaves NULL for absent combos; the FILTER oracle yields 0
    return pivoted.select(
        "user_id", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# interval join: signup -> purchases by the same user within 1 hour
# (batch twin of streaming.pipeline.stream_stream_interval_join; pytest
# asserts stream == batch under availableNow)
# ---------------------------------------------------------------------------

INTERVAL_JOIN_ORACLE = """
SELECT a.user_id,
       a.event_id AS signup_event,
       b.event_id AS purchase_event,
       epoch_us(b.ts) - epoch_us(a.ts) AS micros_between,
       b.value AS purchase_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 1 HOUR
WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
"""


@register(
    "events_interval_join",
    oracle=INTERVAL_JOIN_ORACLE,
    category="events",
    description="time-interval join: purchases within 1h of a signup",
    graded=False,  # driver window pinned at 50; oracle-gated via pytest parity
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range-in-time) join — the batch definition of the
    stream-stream join in streaming/pipeline.py. micros_between is exact
    int64 subtraction (no double drift); purchase_value passes through
    untouched (bit-identical on both engines).

    Scale: equality on user_id carries the shuffle; the time predicate
    evaluates post-match, so state/skew behave like any user-keyed join
    (salt the hot user if one dominates). In the streaming twin the same
    condition bounds the join STATE to the interval width."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_event"),
        F.col("ts").alias("signup_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "user_id",
        "signup_event",
        "purchase_event",
        (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")).alias(
            "micros_between"
        ),
        "purchase_value",
    )


# ---------------------------------------------------------------------------
# native session windows: gap-based sessions via F.session_window
# ---------------------------------------------------------------------------

SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS INTEGER) AS n_events
FROM numbered GROUP BY user_id, seq
"""


@register(
    "events_session_window_agg",
    oracle=SESSION_WINDOW_ORACLE,
    category="events",
    description="native session_window (30 min gap) per-user sessions",
    graded=False,  # driver window pinned at 50; oracle-gated via pytest parity
)
def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions through Spark's NATIVE session_window operator
    (vs events_sessionize's manual lag/cumsum construction — same
    semantics, but this one is streaming-capable: the identical
    expression runs under a watermark in streaming/pipeline.py and
    pytest pins stream == batch). Boundary rule: Spark merges an event
    only when its ts is STRICTLY before the current session end, so the
    oracle's new-session test is gap >= 30 min (not >); session_end =
    last event + gap (Spark's definition).

    Scale: one shuffle on user_id; session merging is per-key local;
    streaming state is bounded by the watermark (closed sessions
    evict)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# sequential funnel: view -> click -> purchase, strictly time-ordered
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH a AS (
  SELECT user_id, min(ts) AS ta FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
b AS (
  SELECT e.user_id, min(e.ts) AS tb
  FROM events e JOIN a ON e.user_id = a.user_id AND e.ts > a.ta
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS tc
  FROM events e JOIN b ON e.user_id = b.user_id AND e.ts > b.tb
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT
  CAST((SELECT count(*) FROM a) AS BIGINT) AS n_step_view,
  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_step_click,
  CAST((SELECT count(*) FROM c) AS BIGINT) AS n_step_purchase,
  CAST((SELECT count(*) FROM b) AS DOUBLE)
    / (SELECT count(*) FROM a) AS view_to_click,
  CAST((SELECT count(*) FROM c) AS DOUBLE)
    / (SELECT count(*) FROM b) AS click_to_purchase
"""


@register(
    "events_funnel",
    oracle=FUNNEL_ORACLE,
    category="events",
    description="sequential conversion funnel (view -> click -> purchase)",
    # r12: rotated INTO the driver window (flagship analytics)
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis: users counted at each step only when
    the step's event happens STRICTLY AFTER their first event of the
    previous step (the product-analytics operator every event warehouse
    ships; a conditional-aggregation composition here, no UDFs).

    Plan shape (r15, guide §2.2): ONE scan of the fact table and ONE
    hash-partition by user_id — the r14 shape joined three filtered
    event slices through monotone step sets, which Catalyst planned as
    SIX independent scans with the step-1/step-2 aggregations evaluated
    up to three times each (zero ReusedExchange; see
    plans/r15/events_funnel_before.txt). Now a single groupBy(user_id)
    collects min(view ts) plus the SORTED click/purchase timestamp
    arrays, and each later step's min-after-bound is the first array
    element past the previous bound (array_sort + filter + get — exact
    same min the join computed, proven by the unchanged oracle). The
    three counts fold in one single-row aggregate instead of two scalar
    cross-joins. Per-user array size is bounded by that user's
    click/purchase event count (the same rows the old join shuffled).
    Conversion ratios are int/int double divisions (exact-in,
    IEEE-deterministic)."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("ta"),
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
            ).alias("clicks"),
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ).alias("purchases"),
        )
    )
    # F.get (not element_at) — returns NULL on out-of-bounds instead of
    # raising under ANSI; arrays are sorted ascending so element 0 of the
    # filtered suffix IS min(ts > bound), exactly the old join's agg.
    # The NULL user_id group counts as a viewer (GROUP BY keeps it) but
    # never reaches a later step: the oracle's equi-joins drop NULL keys.
    tb = F.when(
        F.col("ta").isNotNull() & F.col("user_id").isNotNull(),
        F.get(F.filter("clicks", lambda x: x > F.col("ta")), F.lit(0)),
    )
    # two chained projections: tb must EXIST as a column before the
    # purchases lambda binds it (and CollapseProject keeps the non-cheap
    # tb alias un-inlined because it is referenced twice — computed once
    # per row, not once per purchase element)
    stepped = per_user.select("ta", tb.alias("tb"), "purchases").select(
        "ta",
        "tb",
        F.get(F.filter("purchases", lambda x: x > F.col("tb")), F.lit(0)).alias("tc"),
    )
    return stepped.agg(
        F.count("ta").alias("n_step_view"),
        F.count("tb").alias("n_step_click"),
        F.count("tc").alias("n_step_purchase"),
    ).select(
        "n_step_view",
        "n_step_click",
        "n_step_purchase",
        (F.col("n_step_click").cast("double") / F.col("n_step_view")).alias(
            "view_to_click"
        ),
        (F.col("n_step_purchase").cast("double") / F.col("n_step_click")).alias(
            "click_to_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# weekly cohort retention matrix
# ---------------------------------------------------------------------------

COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
act AS (
  SELECT e.user_id,
         CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
         CAST(date_diff('day', date_trunc('week', f.first_ts),
                        date_trunc('week', e.ts)) / 7 AS INTEGER) AS week_offset
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM act
GROUP BY cohort_week, week_offset
"""


@register(
    "events_retention_cohorts",
    oracle=COHORT_ORACLE,
    category="events",
    description="weekly cohort retention matrix (first-seen week x offset)",
    # r12: rotated INTO the driver window (flagship analytics); r14:
    # rotated back out for text_bigram_lm_score (events_funnel keeps the
    # analytics family graded); still oracle-gated via parity + bench
    graded=False,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — users bucketed by the Monday week of
    their FIRST event; each later active week counts them at its offset
    (the retention matrix every product-analytics warehouse derives).
    Week math is Monday-anchored date_trunc on BOTH engines, and the
    offset is an exact days/7 integer (trunc-to-trunc distances are
    multiples of 7), so the gate is bit-deterministic.

    Plan shape: one groupBy(user_id) for first-seen, one user-keyed
    join back to the events (AQE broadcasts the shrunken first-seen
    side), one (cohort, offset) countDistinct. At 100 TB the event scan
    shuffles on user_id once and the matrix is tiny."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    act = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.date_trunc("week", F.col("first_ts")).cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# trailing-window anomaly flags over daily event volumes
# ---------------------------------------------------------------------------

ANOMALY_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, day
),
trailed AS (
  SELECT event_type, day, n,
         sum(n) OVER w AS trail_sum,
         CAST(count(*) OVER w AS BIGINT) AS trail_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n,
       CAST(trail_sum AS DOUBLE) / trail_n AS trail_mean,
       CAST(n * trail_n > 2 * trail_sum AS BOOLEAN) AS is_spike
FROM trailed
WHERE trail_n > 0
"""


@register(
    "events_anomaly_trailing",
    oracle=ANOMALY_ORACLE,
    category="events",
    description="daily volume anomaly flags vs a trailing 7-day window",
    graded=False,  # driver window pinned at 50; oracle-gated via pytest parity
)
def events_anomaly_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly detection: a day spikes when its count
    exceeds 2x the trailing 7-day mean. The spike predicate is kept in
    EXACT integer arithmetic (n * trail_n > 2 * trail_sum) so the flag
    is bit-deterministic cross-engine; the mean column is an int/int
    double division (exact-in, IEEE-deterministic). Plan shape: one
    (type, day) count, one bounded-rows window — both shuffle on the
    same key; at 100 TB the daily rollup is tiny regardless of event
    volume."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    trailed = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    ).filter(F.col("trail_n") > 0)
    return trailed.select(
        "event_type",
        "day",
        "n",
        (F.col("trail_sum").cast("double") / F.col("trail_n")).alias("trail_mean"),
        (F.col("n") * F.col("trail_n") > 2 * F.col("trail_sum")).alias("is_spike"),
    )


# ---------------------------------------------------------------------------
# event-type Markov transitions (r12)
# ---------------------------------------------------------------------------

MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type AS from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "events_markov_transitions",
    oracle=MARKOV_ORACLE,
    category="events",
    description="per-user event-type transition matrix (Markov counts)",
    graded=False,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for every user's
    time-ordered event stream (ties broken by event_id — deterministic
    on any layout), count each consecutive (from, to) event-type pair
    and the distinct users exhibiting it — the input to Markov-chain
    session models and anomaly scoring.

    Scale: one window shuffle keyed by user_id (uniform), then one
    small-cardinality (from, to) aggregation with map-side partial
    combine; |event_types|^2 output rows regardless of input size."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# integer-exact z-score anomaly flags over hourly volumes (r13)
# ---------------------------------------------------------------------------

ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.window_start, h.cnt,
  CASE WHEN s.n > 1
        AND (h.cnt * s.n - s.total) * (h.cnt * s.n - s.total)
            > 4 * (s.n * s.sumsq - s.total * s.total)
       THEN 1 ELSE 0 END AS is_anomaly
FROM hourly h JOIN stats s USING (event_type)
ORDER BY h.event_type, h.window_start
"""


@register(
    "events_anomaly_hours",
    oracle=ANOMALY_ORACLE,
    category="events",
    description="|z| > 2 hourly-volume anomaly flags per event type "
    "(integer-exact cross-multiplied variance)",
    # r14: promoted into the graded window (VERDICT r13 #2); the slot
    # came from distinct_parts_per_supplier (dedup_exact_summary keeps
    # the distinct/dedup family's graded representative)
)
def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection — the monitoring shape every event
    pipeline runs — in its deliberately oracle-exact integer form: an
    hour is anomalous for an event type when its count deviates from
    the type's mean by more than two population standard deviations.
    No float sqrt/division ever happens: |z| > 2 cross-multiplies to
    (cnt·n − total)² > 4·(n·sumsq − total²), all BIGINT (bounded:
    counts and hour cardinalities here keep every product far below
    2^63; the float z-score is the documented production alternative
    when volumes approach that).

    Scale: one uniform-key groupBy to hourly counts, one per-type
    aggregate (broadcast — |event types| rows), one broadcast join
    back. Zero UDFs."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("window_start")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # lazily localCheckpointed (r15, guide §2.2): both the per-type
        # stats and the join-back consume this (hours x types)-cardinality
        # frame — unmaterialized, Catalyst evaluates the full events scan
        # + hourly agg twice (see plans/r15/events_anomaly_hours_before.txt)
        .localCheckpoint(eager=False)
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("sumsq"),
    )
    joined = hourly.join(F.broadcast(stats), "event_type")
    dev = F.col("cnt") * F.col("n") - F.col("total")
    var_x = F.col("n") * F.col("sumsq") - F.col("total") * F.col("total")
    return joined.select(
        "event_type",
        "window_start",
        "cnt",
        F.when((F.col("n") > 1) & (dev * dev > F.lit(4) * var_x), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_anomaly"),
    ).orderBy("event_type", "window_start")
