"""Event-stream queries over the ``events`` table.

The reference's core loop materializes mutable state from an ordered
event stream (`x/indexer/indexer.go:167-198`) and schedules work from
it (`x/mongoDaemon/service.go:98-176`). These queries express those
capabilities Spark-first on the driver's events fixture:

- latest-state compaction  = the replay form of per-key upsert (M1-M16)
- stalest top-k            = the mongoDaemon scheduler (D6)
- sessionization           = ordered-stream windowing (§2.6 extension)
- JSON extraction          = the Jsonb columns (Tx.Log, D1)
- tumbling-window rollups  = streaming aggregation in its batch form

Scale notes: every window here partitions by a high-cardinality key
(user_id), so state is evenly spread; the tumbling-window agg is a
plain groupBy on a derived column (no window function state at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_spark.fixtures import hold, memo, scratch_dir
from dwh_spark.operators.latest_state import latest_state
from dwh_spark.plans.registry import query
from dwh_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Latest-state compaction (M1-M16 replay form; SURVEY §1.1 "mutable tables").
# One row per user: their most recent event = their current state.
# ---------------------------------------------------------------------------
@query(
    "events_latest_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_state(ev, keys=["user_id"], order=[F.desc("ts"), F.desc("event_id")]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Stalest top-k (D6, x/mongoDaemon/service.go:100-103): select the 20%
# least-recently-active users, oldest first — the refresh scheduler.
# ---------------------------------------------------------------------------
@query(
    "events_stalest_topk",
    oracle="""
    WITH last_seen AS (
      SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id
    ), counted AS (
      SELECT count(*) AS n FROM last_seen
    ), ranked AS (
      SELECT user_id, last_ts,
             row_number() OVER (ORDER BY last_ts ASC, user_id) AS rn
      FROM last_seen
    )
    SELECT user_id, last_ts, rn
    FROM ranked, counted
    WHERE rn <= CAST(ceil(n * 0.20) AS BIGINT)
    """,
)
def events_stalest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dwh_spark.operators.ranks import with_global_rank

    ev = load_table(spark, sf_dir, "events")
    last_seen = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    # k is 20% OF THE TABLE, so a TakeOrderedAndProject pre-cut (the
    # right shape for constant k, e.g. pagination) would merge 0.2·n
    # rows on the driver at scale. The two-phase equi-depth-binned rank
    # (operators/ranks.py) keeps the selection fully distributed: bin
    # counts are the only driver traffic, windows run per-bin — and n
    # comes free from those same bin counts (meta_out), so no separate
    # count() scan.
    # persist the per-user aggregate (n_users rows — the COMPACTED
    # frame, tiny next to events) so the operator's two eager passes +
    # the final job don't re-shuffle the fact table three times. The
    # lazy result still references it, so it is released at the next
    # construction's hold, not here.
    (last_seen,) = hold("events_stalest", last_seen)
    meta: dict = {}
    ranked = with_global_rank(
        last_seen, "last_ts", [F.asc("last_ts"), F.asc("user_id")], meta_out=meta
    )
    k = -(-meta["n"] * 20 // 100)  # ceil(n * 0.20)
    return ranked.filter(F.col("rn") <= int(k)).withColumn(
        "rn", F.col("rn").cast("int")  # preserve the query's r1 schema
    )


# ---------------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap → session boundaries via
# lag + running sum (the batch twin of session_window in streaming).
# ---------------------------------------------------------------------------
@query(
    "events_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sessions GROUP BY 1, 2
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Timestamp subtraction yields a DayTimeIntervalType — exact
    # microsecond arithmetic, matching the oracle's INTERVAL compare.
    # (A cast-to-long gap truncates sub-second digits and can merge two
    # sessions whose gap is in (1800.0 s, 1801.0 s); every testdata ts
    # carries non-zero microseconds.)
    gap = F.col("ts") - F.lag(F.col("ts")).over(w)
    is_new = F.when(gap.isNull() | (gap > F.expr("INTERVAL '30' MINUTE")), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction (D1 / Tx.Log jsonb): pull props.k out of the JSON
# column and aggregate — JVM-side get_json_object, no Python.
# ---------------------------------------------------------------------------
@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY 1
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Tumbling event-time window (daily) — the batch form of the streaming
# windowed agg; plain groupBy on a truncated timestamp, no window state.
# ---------------------------------------------------------------------------
@query(
    "events_daily_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.to_date(F.col("ts")).alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Funnel: signup → purchase conversion per user (ordered-stream join,
# the analytics shape the marketplace would ask of its event log).
# ---------------------------------------------------------------------------
@query(
    "events_funnel_signup_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(first_signup) AS n_signed_up,
           CAST(sum(CASE WHEN first_purchase > first_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted
    FROM firsts
    """,
)
def events_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.sum(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1).otherwise(0)
        ).alias("n_converted"),
    )


# ---------------------------------------------------------------------------
# Sketches: engine-portable KMV distinct estimate next to the exact
# count, and exact interpolated percentiles. approx_count_distinct /
# percentile_approx are the built-in production forms; these variants
# are chosen because the oracle can reproduce them bit-for-bit.
# ---------------------------------------------------------------------------
from dwh_spark.operators.sketch import kmv_distinct, kmv_oracle_sql  # noqa: E402


@query(
    "events_kmv_distinct_users",
    oracle=f"""
    WITH exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT e.event_type, e.n_exact, k.n_kmv
    FROM exact e JOIN ({kmv_oracle_sql("events", ["event_type"], "user_id")}) k
      USING (event_type)
    """,
)
def events_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type,
    side-by-side with the exact count. The sketch is mergeable — the
    100 TB form keeps k hashes per group per partition and unions."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(kmv_distinct(ev, ["event_type"], "user_id", k=64), "event_type")


from dwh_spark.operators.sketch import hll_distinct, hll_oracle_sql  # noqa: E402


@query(
    "events_hll_distinct_users",
    oracle=f"""
    WITH exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT e.event_type, e.n_exact, h.n_hll
    FROM exact e JOIN ({hll_oracle_sql("events", ["event_type"], "user_id")}) h
      USING (event_type)
    """,
)
def events_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type beside the exact
    count (reference estimated-count use: documents stats,
    x/dmetadata/storage.go count paths). Unlike KMV's distinct
    pre-pass, HLL's state is m=256 registers per group built by one
    map-side-combinable groupBy — at 100 TB the shuffle moves only
    (group, bucket, max-rho) rows, never raw user ids, and two register
    tables union by per-register max without touching the data again."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(hll_distinct(ev, ["event_type"], "user_id"), "event_type")


@query(
    "events_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1
    """,
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the SQL-standard
    definition (rank = p*(n-1), lerp between neighbors).

    At 100 TB swap in ``percentile_approx`` (t-digest, mergeable);
    exact percentile needs the group's values gathered per reducer."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Time travel, multi-resolution rollup, and pivot — the warehouse
# shapes a chain indexer's consumers ask next ("state as of", hourly
# and daily continuous aggregates, type-by-day matrices).
# ---------------------------------------------------------------------------
_AS_OF = "2024-01-15 00:00:00"


@query(
    "events_state_as_of",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts <= TIMESTAMP '{_AS_OF}'
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type
    FROM ranked WHERE rn = 1
    """,
)
def events_state_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time replay (time travel): latest state per user as of
    a cutoff — the reference's "state at height H" for an event log.
    The cutoff predicate is pushed into the parquet scan, so replaying
    an early snapshot reads a fraction of the log."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") <= F.lit(_AS_OF))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


@query(
    "events_hourly_daily_rollup",
    oracle="""
    WITH base AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             date_trunc('hour', ts) AS hour_ts,
             CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
             event_type, value
      FROM events
    )
    SELECT day, hour_of_day AS hour, event_type,
           GROUPING(hour_ts) AS gid,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM base
    GROUP BY GROUPING SETS (
      (day, hour_ts, hour_of_day, event_type),
      (day, event_type)
    )
    """,
)
def events_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly and daily rollups
    in ONE pass via GROUPING SETS (Catalyst Expand → a single shuffle
    serves both resolutions; at 100 TB the hourly output is itself the
    mergeable input for day/week/month without touching raw events)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.hour("ts").alias("hour_of_day"),
        "event_type",
        "value",
    )
    grouped = ev.groupingSets(
        [["day", "hour_ts", "hour_of_day", "event_type"], ["day", "event_type"]],
        "day", "hour_ts", "hour_of_day", "event_type",
    ).agg(
        F.grouping("hour_ts").alias("gid"),
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return grouped.select(
        "day",
        F.col("hour_of_day").cast("long").alias("hour"),
        "event_type", "gid", "n", "sum_value",
    )


_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "events_daily_type_pivot",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _TYPES)}
    FROM events GROUP BY 1
    """,
)
def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): events per day x type as a wide matrix. The
    pivot values are declared, so Spark plans a single pass (no
    distinct-values pre-query)."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_TYPES))
        .count()
    )
    out = pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _TYPES]
    )
    return out


# ---------------------------------------------------------------------------
# Skew + layout under the oracle gate: the salted two-phase aggregation
# must be invisible in the result, and the Morton key must match an
# independent bit-algebra derivation.
# ---------------------------------------------------------------------------
@query(
    "events_salted_rollup",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def events_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators/skew.py): the salt
    fan-out spreads a hot key over 16 tasks, and because count/sum are
    associative-commutative the result is bit-identical to the plain
    rollup — which is exactly what the oracle computes."""
    from dwh_spark.operators.skew import salted_count_sum

    ev = load_table(spark, sf_dir, "events")
    out = salted_count_sum(ev, ["event_type"], F.col("value").cast("decimal(18,2)"))
    return out.select(
        "event_type", "n", F.col("sum_value").cast("double").alias("sum_value")
    )


def _zorder_sql(a_sql: str, b_sql: str, bits: int = 8) -> str:
    """DuckDB twin of functions.layout.zorder_key — independent
    derivation of the same Morton interleave."""
    terms = [
        f"((({a_sql}) >> {i} & 1) << {2 * i}) + ((({b_sql}) >> {i} & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "events_zorder_keys",
    oracle=f"""
    SELECT event_id,
           CAST({_zorder_sql("user_id & 255",
                             "(epoch_us(date_trunc('day', ts)) // 86400000000) & 255")}
                AS BIGINT) AS z
    FROM events WHERE event_id % 97 = 0
    """,
)
def events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (user_id, day) — the write-side
    clustering expression (functions/layout.py) pinned value-exact
    against an independent DuckDB bit-algebra derivation. Both filters
    of a (user, time-range) query skip row groups once files are
    range-written by z."""
    from dwh_spark.functions.layout import zorder_key

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), day, bits=8).alias("z"),
    )


# ---------------------------------------------------------------------------
# SCD2 history construction: each event opens a validity interval that
# the next event for the same key closes — the warehouse history-table
# form of the reference's mutable-row updates (updated_at lifecycle).
# ---------------------------------------------------------------------------
@query(
    "events_scd2_intervals",
    oracle="""
    SELECT user_id, event_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM events
    WHERE user_id % 50 = 0
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval construction: valid_from = the event's time,
    valid_to = the next event's time for the same key (NULL = current
    version). One window shuffle keyed by user_id; the key filter is
    pushed to the scan so only sampled users are read."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE-as-a-query): all columns' stats in one scan.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ("event_id", "user_id", "event_type", "value")


def _profile_oracle() -> str:
    aggs, arms = ["count(*) AS total"], []
    for i, c in enumerate(_PROFILE_COLS):
        aggs += [
            f"count({c}) AS n{i}", f"count(DISTINCT {c}) AS d{i}",
            f"CAST(min({c}) AS VARCHAR) AS mn{i}",
            f"CAST(max({c}) AS VARCHAR) AS mx{i}",
        ]
        arms.append(
            f"SELECT '{c}' AS column_name, n{i} AS n, total - n{i} AS n_null, "
            f"d{i} AS n_distinct, mn{i} AS min_val, mx{i} AS max_val FROM t"
        )
    return f"WITH t AS (SELECT {', '.join(aggs)} FROM events)\n" + "\nUNION ALL ".join(arms)


@query("events_column_profile", oracle=_profile_oracle())
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column statistics (n / nulls / exact distinct / min / max)
    for the events table in ONE scan — the multi-distinct aggregate
    plans as a single Expand + partial agg, not per-column jobs
    (functions/profile.py)."""
    from dwh_spark.functions.profile import profile_columns

    return profile_columns(load_table(spark, sf_dir, "events"), list(_PROFILE_COLS))


# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen week, activity counted
# per week offset — the classic warehouse retention matrix.
# ---------------------------------------------------------------------------
@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(epoch_us(date_trunc('day', ts)) // 86400000000 // 7) AS cohort_week
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             (epoch_us(date_trunc('day', e.ts)) // 86400000000 // 7)
               - f.cohort_week AS week_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: cohort = the user's first-seen epoch week;
    each (cohort, week offset) counts distinct users active that week.
    Two shuffles (first-seen agg keyed by user; final rollup), the
    cohort join stays on the user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    week = (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7).cast("long")
    weeks = ev.select("user_id", week.alias("week"))
    firsts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        weeks.join(firsts, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(F.count("*").alias("n_users"))


@query(
    "events_salted_hot_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def events_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dimension join (operators/skew.py:salted_join):
    the fact side is salted, the dimension side replicated per salt, so
    one hot user key spreads over 16 tasks instead of one straggler.
    Salt assignment is distribution-only — the joined row set, and
    therefore the rollup, is salt-invariant, which is exactly what the
    plain-join oracle checks."""
    from dwh_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("value").cast("decimal(18,2)").alias("v")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, on=["k"], n_salts=16)
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("sum_value"),
    )


@query(
    "events_mg_salted_hot_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def events_mg_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery→mitigation composed end-to-end: the Misra-Gries
    sketch DISCOVERS the hot join keys, and those discovered keys —
    not an a-priori list — drive a targeted salted join
    (operators/skew.py:targeted_salted_join) where only hot fact rows
    fan out and only hot dimension keys replicate.

    Selection is the sketch's certified bound used as designed: est <=
    true <= est + err_bound, and a key MG never tracked has true <=
    err_bound — so for any threshold ABOVE err_bound, every truly-hot
    key is tracked with ``est + err_bound >= threshold``: a guaranteed
    SUPERSET (pinned by test_mg_threshold_selection_is_superset). The
    threshold is therefore 1% of rows FLOORED AT err_bound+1 (err <=
    n/(k+1), so below it no sketch can promise discovery); the
    superset is then capped to the top 64 estimates to keep the
    literal IN list small. NOTE the cap's real trade: when MORE than
    64 keys pass the filter, the truncation UNDER-salts the dropped
    (possibly truly hot) keys — a skew-mitigation loss, never a
    correctness loss (unsalted keys take the ordinary join path), and
    we log to stderr when it fires so the loss is visible. The rollup
    is salt-invariant, which is exactly what the plain-join oracle
    checks: any discovery error that affected RESULTS (not just
    distribution) would go red."""
    from dwh_spark.operators.sketch import mg_merge, mg_partition_summaries
    from dwh_spark.operators.skew import targeted_salted_join

    ev_raw = load_table(spark, sf_dir, "events")
    counters, err, n = mg_merge(
        mg_partition_summaries(ev_raw, "user_id", "event_id", k=64, n_parts=32)
    )
    thresh = max(1, n // 100, err + 1)
    passing = (
        counters.filter(F.col("est") + F.lit(err) >= thresh)
        .orderBy(F.desc("est"), F.asc("key"))
        .limit(65)  # 64 + 1: enough to detect truncation without a count()
        .collect()
    )
    if len(passing) > 64:
        import sys

        print(
            "[events_mg_salted_hot_join] >64 keys passed the MG threshold; "
            "truncating to top-64 estimates (dropped keys stay UNSALTED — "
            "skew-mitigation loss only, results unaffected)",
            file=sys.stderr,
        )
    hot = [int(r["key"]) for r in passing[:64]]
    ev = ev_raw.select(
        F.col("user_id").alias("k"), F.col("value").cast("decimal(18,2)").alias("v")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    joined = targeted_salted_join(ev, cust, on=["k"], hot_keys=hot, n_salts=16)
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("sum_value"),
    )


@query(
    "events_rolling_7d_actives",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ), days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
      SELECT unnest([day + CAST(i AS INT) FOR i IN range(0, 7)]) AS window_end, user_id
      FROM ud
    )
    SELECT c.window_end, count(DISTINCT c.user_id) AS n_active_7d
    FROM contrib c JOIN days d ON d.day = c.window_end
    GROUP BY 1
    """,
)
def events_rolling_7d_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives per day — the sliding-window
    COUNT DISTINCT that a RANGE frame cannot do (distinct is not
    frame-able). The scalable form: each (user, day) activity fans out
    to the ≤7 window-ends it supports (bounded ×7 explode), then one
    distinct-count per window — never a per-day re-scan of trailing
    history."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("window_end"),
        "user_id",
    )
    return (
        contrib.join(days, contrib.window_end == days.day, "left_semi")
        .groupBy("window_end")
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
    )


# ---------------------------------------------------------------------------
# Write-side layout levers under the oracle gate: partition pruning
# and small-file compaction (the other half of the bucketed-join
# story in plans/relational.py).
# ---------------------------------------------------------------------------
def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        path = scratch_dir("events_by_day_") + "/data"
        ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        ev.write.partitionBy("day").mode("overwrite").parquet(path)
        return path

    return memo(spark, ("events_by_day", sf_dir), build)


@query(
    "events_partition_pruned_rollup",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-09'
    GROUP BY 1
    """,
)
def events_partition_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned layout + a day-range filter: the scan touches
    ONLY the 7 matching day directories (PartitionFilters, pinned in
    tests/test_plan_audit.py) — on 100 TB this is reading a week, not
    the table. Result must equal the same rollup over the flat
    parquet."""
    part = spark.read.parquet(_partitioned_events(spark, sf_dir))
    return (
        part.filter(
            (F.col("day") >= F.lit("2024-01-03").cast("date"))
            & (F.col("day") <= F.lit("2024-01-09").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "events_compaction_roundtrip",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(64 AS INT) AS files_before, CAST(1 AS INT) AS files_after
    FROM events
    """,
)
def events_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources/sinks.py): 64 deliberately tiny
    files compact to the byte-sized target (one file at this scale);
    row count must round-trip exactly. The maintenance job every
    streaming sink needs — footer/open overhead, not data, dominates
    reads once files shrink below ~10 MB."""
    import os

    from dwh_spark.sources.sinks import compact_small_files

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("compact_")
    small, compacted = f"{root}/small", f"{root}/compacted"
    ev.repartition(64).write.parquet(small)

    def n_parquet(p):
        return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))

    files_before = n_parquet(small)
    compact_small_files(spark, small, compacted)
    files_after = n_parquet(compacted)
    n_rows = spark.read.parquet(compacted).count()
    return spark.range(1).select(
        F.lit(n_rows).alias("n_rows"),
        F.lit(files_before).cast("int").alias("files_before"),
        F.lit(files_after).cast("int").alias("files_after"),
    )


@query(
    "events_rank_battery",
    oracle="""
    SELECT user_id, event_id,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           row_number()   OVER w AS rn,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist()    OVER w, 6) AS cdist,
           ntile(4)       OVER w AS quartile,
           CAST(lag(event_id)  OVER w AS BIGINT) AS prev_event,
           CAST(lead(event_id) OVER w AS BIGINT) AS next_event,
           first_value(event_id) OVER w AS first_event,
           CAST(nth_value(event_id, 2) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS second_event
    FROM events
    WHERE user_id % 37 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ranking/navigation window-function family in one
    query — rank, dense_rank, row_number, percent_rank, cume_dist,
    ntile, lag/lead, first_value, nth_value — each against DuckDB's
    independent implementation. All windows share one (user_id)
    partitioning: a single shuffle serves every function."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 37 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id", "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
        F.nth_value("event_id", 2).over(w_full).alias("second_event"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (operators/sketch.py): d×w cells, md5-derived
# buckets identical in both engines; probe the exact top-10 users and
# pin the estimates cell-for-cell (the >= invariant is implied by
# exact equality of both sides' arithmetic).
# ---------------------------------------------------------------------------
from dwh_spark.operators.sketch import (  # noqa: E402
    CMS_DEPTH,
    cms_bucket_sql,
    cms_build,
    cms_estimate,
)

_CMS_ROWS_SQL = "\n      UNION ALL ".join(
    f"SELECT {r} AS row, {cms_bucket_sql('user_id', r)} AS bucket FROM events"
    for r in range(CMS_DEPTH)
)
_CMS_PROBE_CASE = "CASE r.row " + " ".join(
    f"WHEN {r} THEN {cms_bucket_sql('e.user_id', r)}" for r in range(CMS_DEPTH)
) + " END"


@query(
    "events_cms_user_counts",
    oracle=f"""
    WITH cells AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS cell
      FROM ({_CMS_ROWS_SQL})
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
      ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    probes AS (
      SELECT e.user_id, e.exact_n, r.row, {_CMS_PROBE_CASE} AS bucket
      FROM exact e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row) r
    )
    SELECT p.user_id, p.exact_n, CAST(min(c.cell) AS BIGINT) AS cms_n
    FROM probes p JOIN cells c USING (row, bucket)
    GROUP BY 1, 2
    """,
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4×64 count-min sketch over user_id (one shuffle, 256
    cells total at ANY input size) and probe the exact top-10 users:
    output (user_id, exact_n, cms_n). At 100 TB the sketch build is
    the only pass over the data; estimates come from 256 broadcast
    rows. cms_n >= exact_n always (collisions over-count) — pinned
    exactly, not just directionally, against the oracle."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id")
    exact_top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    est = cms_estimate(sketch, exact_top.select("user_id"), "user_id")
    return exact_top.join(est, "user_id").select(
        "user_id", "exact_n", F.col("cms_count").alias("cms_n")
    )


# ---------------------------------------------------------------------------
# Interval-bounded window frames at exact integer-microsecond
# precision: RANGE BETWEEN 1 HOUR PRECEDING AND CURRENT ROW. Both
# engines order by BIGINT epoch-microseconds (Spark: timestamp →
# DECIMAL(26,6) seconds → exact ×1e6; DuckDB: epoch_us) so the frame
# boundary is an integer compare — no float-ulp flakiness, no
# sub-second truncation (the round-1 sessionization lesson).
# ---------------------------------------------------------------------------
@query(
    "events_interval_frame_sums",
    oracle="""
    WITH framed AS (
      SELECT user_id, event_id, event_type,
             CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, n_last_hour, sum_last_hour
    FROM framed WHERE event_type = 'purchase' AND user_id % 17 = 0
    """,
)
def events_interval_frame_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour activity (count + exact decimal sum)
    via a RANGE frame over integer microseconds; output restricted to
    purchases of a user slice AFTER the frame is computed, so every
    event still contributes to the windows. One shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    us = (F.col("ts").cast("decimal(26,6)") * 1000000).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"))
        .rangeBetween(-3_600_000_000, 0)
    )
    framed = (
        ev.withColumn("us", us)
        .withColumn("n_last_hour", F.count("*").over(w))
        .withColumn(
            "sum_last_hour",
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"),
        )
    )
    return framed.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 17 == 0)
    ).select("user_id", "event_id", "n_last_hour", "sum_last_hour")


# ---------------------------------------------------------------------------
# Bitmap aggregation: the roaring-bitmap trick in miniature. Distinct
# "active days" per user is usually a count(DISTINCT) (an extra
# dedup shuffle at scale); as a bit_or of single-set-bit masks it
# becomes a plain map-side-combinable aggregate, and popcount reads
# the answer off the mask. Segment rollups then OR the user masks.
# ---------------------------------------------------------------------------
@query(
    "events_activity_bitmaps",
    oracle="""
    WITH masks AS (
      SELECT user_id,
             CAST(bit_or(CAST(1 AS BIGINT) << (CAST(extract(day FROM ts) AS INT) - 1))
                  AS BIGINT) AS day_mask
      FROM events GROUP BY 1
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(bit_count(day_mask)) AS BIGINT) AS total_active_days,
           CAST(max(bit_count(day_mask)) AS INT) AS max_active_days,
           CAST(bit_count(bit_or(day_mask)) AS INT) AS cohort_covered_days
    FROM masks GROUP BY 1
    """,
)
def events_activity_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user day-of-month activity bitmaps (bit 0 = day 1, Jan-2024
    fixture spans one month) rolled up per cohort: distinct active
    days = popcount, cohort coverage = popcount of OR-merged masks.
    Two combinable shuffles, no count(DISTINCT) dedup exchange."""
    ev = load_table(spark, sf_dir, "events")
    # shiftleft's numBits is literal-only in the Python API — the
    # column-shift form goes through expr()
    masks = ev.groupBy("user_id").agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), day(ts) - 1)")
        ).alias("day_mask")
    )
    return masks.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count("*").alias("n_users"),
        F.sum(F.bit_count("day_mask")).alias("total_active_days"),
        F.max(F.bit_count("day_mask")).alias("max_active_days"),
        F.bit_count(F.bit_or("day_mask")).alias("cohort_covered_days"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two time-travel replays): classify every
# user as added / removed / changed / unchanged between two cutoffs.
# The two snapshots share one scan+shuffle via a conditional latest-
# state rank per cutoff; the diff itself is a single full-outer join
# at user cardinality.
# ---------------------------------------------------------------------------
_DIFF_T1 = "2024-01-10 00:00:00"
_DIFF_T2 = "2024-01-20 00:00:00"


@query(
    "events_snapshot_diff",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{_DIFF_T1}'
      ) WHERE rn = 1
    ), s2 AS (
      SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{_DIFF_T2}'
      ) WHERE rn = 1
    ),
    diff AS (
      SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
                  WHEN s2.user_id IS NULL THEN 'removed'
                  WHEN s1.event_id <> s2.event_id THEN 'changed'
                  ELSE 'unchanged' END AS change,
             coalesce(s2.event_type, s1.event_type) AS current_type
      FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    )
    SELECT change, current_type, count(*) AS n_users
    FROM diff GROUP BY 1, 2
    """,
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two point-in-time replays (state at t1 vs t2):
    added / removed / changed / unchanged user counts by current type.
    Both snapshots rank over ONE scan of the log (rows ≤ t1 rank under
    both cutoffs — the t1 rank just ignores later rows), so the plan
    is one shuffle on user_id plus a user-cardinality self-diff, not
    two independent replays. 'removed' is structurally empty for an
    append-only log (asserted by the oracle's identical semantics) —
    the branch exists because the same diff runs over snapshots of
    MUTABLE state (deleted_at in the marketplace tables)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") <= F.lit(_DIFF_T2))
    w1 = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.withColumn("rn2", F.row_number().over(w1)).withColumn(
        "rn1",
        F.row_number().over(
            Window.partitionBy("user_id")
            .orderBy(
                F.when(F.col("ts") <= F.lit(_DIFF_T1), 0).otherwise(1),
                F.desc("ts"),
                F.desc("event_id"),
            )
        ),
    )
    s1 = ranked.filter(
        (F.col("rn1") == 1) & (F.col("ts") <= F.lit(_DIFF_T1))
    ).select(
        F.col("user_id").alias("u1"),
        F.col("event_id").alias("e1"),
        F.col("event_type").alias("t1"),
    )
    s2 = ranked.filter(F.col("rn2") == 1).select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("e2"),
        F.col("event_type").alias("t2"),
    )
    diff = s1.join(s2, s1.u1 == s2.u2, "full_outer").select(
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .when(F.col("e1") != F.col("e2"), "changed")
        .otherwise("unchanged")
        .alias("change"),
        F.coalesce("t2", "t1").alias("current_type"),
    )
    return diff.groupBy("change", "current_type").agg(F.count("*").alias("n_users"))


@query(
    "events_value_robust_stats",
    oracle="""
    WITH med AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.25) AS p25,
             quantile_cont(value, 0.75) AS p75
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           round(any_value(m.med), 6) AS median,
           round(any_value(m.p75) - any_value(m.p25), 6) AS iqr,
           round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY 1
    """,
)
def events_value_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion stats per type: median, IQR, and MAD (median
    absolute deviation — needs the two-pass shape: per-group median,
    broadcast back, median of deviations). Both engines share the
    SQL-standard lerp percentile, so the numbers match exactly; the
    100 TB swap is percentile_approx at both passes."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.first("p75") - F.first("p25"), 6).alias("iqr"),
            F.round(
                F.expr("percentile(abs(value - med), 0.5)"), 6
            ).alias("mad"),
        )
    )
