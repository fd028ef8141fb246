"""Temporal join operators — as-of join and banded range self-join.

Spark has no built-in AS-OF join (DuckDB/Pandas do); the scalable
DataFrame formulation used here is the UNION + running ``last(...,
ignorenulls)`` window: tag both sides, sort within the partition key by
event time, and carry the most recent right-side row forward. ONE shuffle
on the partition key, no point-in-time probe per row, no skew beyond the
key's own distribution — this is the plan a 100 TB event table wants.

The range self-join ("events of the same user within N seconds") uses
time-bucket banding: join on (user, bucket) and (user, bucket+1) instead
of an inequality-only theta join — turning O(n^2) per user into
O(pairs-in-adjacent-buckets), the standard interval-join strategy
(Flink/Trino implement their interval joins the same way).

These extend the reference surface (north-star training-pipeline ops);
the reference itself has no temporal operators (SURVEY.md section 2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table


def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every 'purchase' event: the most recent 'click' of the same user
    at-or-before the purchase (AS-OF backward join), plus the gap in
    seconds. See ``asof_purchase_click_frame`` for the plan shape."""
    return asof_purchase_click_frame(load_table(spark, sf_dir, "events"))


def asof_purchase_click_frame(e: DataFrame) -> DataFrame:
    """Backward as-of core over any events-shaped frame
    (event_id, user_id, ts_ns, event_type, value).

    Implementation: union the two sides with a kind tag, then one window
    pass per user ordered by (ts, kind, event_id) — clicks sort before a
    purchase at the same timestamp so ties resolve to "at or before".
    ``last(click_*, ignorenulls=True)`` carries the latest click forward;
    purchases with no prior click keep NULLs (left as-of semantics).
    """
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts_ns",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_ns",
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    tagged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "kind", F.coalesce("purchase_id", "click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_click_ts_ns",
        F.last(
            F.when(F.col("kind") == 0, F.col("ts_ns")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_value",
            F.col("last_click_id").alias("click_id"),
            # Exact integer microseconds / 1e6, NOT round(ns/1e9, 3): the
            # data is us-precision, so ns gaps hit exact .xxx5 ties at 3 dp
            # where Spark's BigDecimal round and DuckDB's float-path round
            # disagree. Same integer -> same double in every engine.
            (
                F.expr("(ts_ns - last_click_ts_ns) div 1000") / 1.0e6
            ).alias("gap_s"),
        )
    )


BURST_WINDOW_S = 60


def range_join_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs of the same user within BURST_WINDOW_S seconds — a
    banded range self-join.

    Each event lands in bucket floor(ts / W); a pair within W seconds is
    in the same or adjacent buckets, so the candidate join is TWO equi
    joins (bucket, bucket+1) with the exact |dt| <= W predicate applied
    after — never an inequality-only cross product. Output: ordered pairs
    (earlier event_a, later event_b, gap_s > 0) per user.
    """
    # Integer `div`, NOT float division: ts_ns ~ 1.7e18 exceeds double's
    # 2^53 exact range, so a float path could mis-bucket boundary events.
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_ns",
        F.expr(f"ts_ns div {BURST_WINDOW_S * 1_000_000_000}L").alias("bucket"),
    )
    a, b = e.alias("a"), e.alias("b")
    gap_ns = F.col("b.ts_ns") - F.col("a.ts_ns")

    def candidates(bucket_offset: int) -> DataFrame:
        return (
            a.join(
                b,
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("b.bucket") == F.col("a.bucket") + bucket_offset),
            )
            .filter((gap_ns > 0) & (gap_ns <= BURST_WINDOW_S * 1_000_000_000))
            .select(
                F.col("a.user_id").alias("user_id"),
                F.col("a.event_id").alias("event_a"),
                F.col("b.event_id").alias("event_b"),
                # exact us / 1e6 — no rounding ties (see asof note)
                ((gap_ns / F.lit(1000)).cast("bigint") / 1.0e6).alias("gap_s"),
            )
        )

    return candidates(0).unionByName(candidates(1))


def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: did a purchase happen AFTER the first signup?

    Sequence-pattern analytics as one aggregation pass: min(signup ts) and
    max(purchase ts) per user, compared. No join, no window — two
    conditional aggregates sharing the user_id shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    first_signup = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts_ns"))
    )
    last_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts_ns"))
    )
    return (
        e.groupBy("user_id")
        .agg(
            first_signup.alias("first_signup_ns"),
            last_purchase.alias("last_purchase_ns"),
        )
        .select(
            "user_id",
            (
                F.col("first_signup_ns").isNotNull()
                & F.col("last_purchase_ns").isNotNull()
                & (F.col("last_purchase_ns") > F.col("first_signup_ns"))
            )
            .cast("int")
            .alias("converted"),
        )
    )


def retention_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention: of the users active on day D, how many were
    also active on D+1.

    Cohort analytics as two aggregations: distinct (user, day) pairs, then
    a self-join shifted by one day. The distinct collapses the event
    volume to user-day granularity BEFORE the join — at 100 TB the join
    input is |users| x |days|, not |events|. All-integer counts: exact in
    every engine.
    """
    e = load_table(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).distinct()
    today = user_days.alias("t")
    tomorrow = user_days.alias("n")
    retained = today.join(
        tomorrow,
        (F.col("t.user_id") == F.col("n.user_id"))
        & (F.col("n.day") == F.date_format(
            F.date_add(F.to_date(F.col("t.day")), 1), "yyyy-MM-dd"
        )),
        "left",
    )
    return (
        retained.groupBy(F.col("t.day").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(
                F.when(F.col("n.user_id").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("retained_next_day"),
        )
    )


def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 history from an event stream —
    the CDC/warehousing primitive (Kimball SCD2): collapse each user's
    consecutive same-``event_type`` runs into validity intervals
    [valid_from, valid_to) with an ``is_current`` flag on the open
    interval. This is how a 100 TB pipeline turns an append-only event
    log into a point-in-time-joinable dimension (the as-of join's
    natural build side).

    Returns (user_id, run_id, event_type, valid_from_ns, valid_to_ns,
    n_events, is_current); times are the loader's µs-truncated epoch-ns
    bigints (cross-engine exact), ties on ts_ns break by event_id so run
    segmentation is deterministic in both engines.

    Scale shape: one window pass over user_id (lag + running sum — the
    gaps-and-islands idiom) segments runs; the interval aggregate groups
    on (user_id, run_id); the closing lead() reuses the user_id
    partitioning. All keys are user-bounded — skew is bounded by the
    busiest user, the same bound as every per-user window in this
    module.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_ns", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("event_type").over(w)
    runs = e.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn("run_id", F.sum("chg").over(w))
    intervals = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts_ns").alias("valid_from_ns"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return intervals.select(
        "user_id",
        F.col("run_id").cast("int").alias("run_id"),
        "event_type",
        "valid_from_ns",
        F.lead("valid_from_ns").over(w2).alias("valid_to_ns"),
        F.col("n_events").cast("int").alias("n_events"),
    ).withColumn("is_current", F.col("valid_to_ns").isNull())


def trend_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time: OLS slope,
    intercept, and R² via the built-in regression aggregates
    (``regr_slope``/``regr_intercept``/``regr_r2``) — the
    drift-monitoring pass a metrics pipeline runs per series, kept
    entirely in one map-side-combined aggregation (closed-form OLS
    needs only the (Σx, Σy, Σxy, Σx², Σy², n) moments, so the shuffle
    carries one moment tuple per (type, partition), never the rows).

    Numerical conditioning: x is DAYS since a FIXED literal epoch
    (2020-01-01) — raw epoch-µs abscissas would put the mean ~1e15
    above the spread and let catastrophic cancellation amplify
    merge-order noise past the floor grid; with day units both engines'
    moment sums agree to ~1e-12 relative. Outputs floor-scaled to
    integer micros (the established tie-free discipline).

    x derives from INTEGER epoch microseconds (``ts_ns div 1000`` —
    exact in a double: ~1.7e15 < 2^53, where raw ns ~1.7e18 would
    round to ~256 ns grid and desync from DuckDB's epoch_us), then the
    same literal divisions on both engines produce bit-identical
    abscissas. ts_ns itself is the loader's µs-truncated contract
    (tests/test_sources.py schema pin).
    """
    e = load_table(spark, sf_dir, "events")
    ts_us = F.expr("ts_ns div 1000")
    x = (ts_us / F.lit(1e6) - F.lit(1577836800.0)) / F.lit(86400.0)
    y = F.col("value")
    return (
        e.select(F.col("event_type"), x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.regr_slope("y", "x") * 1e6).cast("bigint").alias(
                "slope_micro_per_day"
            ),
            F.floor(F.regr_intercept("y", "x") * 1e6).cast("bigint").alias(
                "intercept_micro"
            ),
            F.floor(F.regr_r2("y", "x") * 1e6).cast("bigint").alias(
                "r2_micro"
            ),
        )
    )


def events_rate_limited_sample(
    spark: SparkSession, sf_dir: str, cap: int = 5
) -> DataFrame:
    """Per-user event caps: keep each user's first ``cap`` events in
    time order — the balancing/privacy primitive (bound any single
    user's contribution to a training set) and the canonical
    top-N-per-group shape: ONE window shuffle partitioned BY USER
    (parallel across users at any scale — never a global sort), rank,
    filter. Deterministic: (ts_ns, event_id) total order within a user.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return (
        e.select("user_id", "event_id", "ts_ns")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("user_id", "event_id", F.col("rn").cast("int").alias("rn"))
    )


def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics: count, min/max and MEDIAN
    gap in integer microseconds — the arrival-process profile behind
    rate anomaly detection and session-timeout tuning.

    Gaps come from one lag window per user (deterministic
    (ts_ns, event_id) order); the median is RANK-SELECTED (the
    ceil(n/2)-th smallest stored gap — a stored integer, never an
    interpolation that differs in the last ulp across engines). Both
    windows and the final aggregate share the user_id partitioning — one
    corpus-sized shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gaps = (
        e.select("user_id", "ts_ns", "event_id")
        .withColumn("prev_ns", F.lag("ts_ns").over(w))
        .filter(F.col("prev_ns").isNotNull())
        .select(
            "user_id",
            F.expr("(ts_ns - prev_ns) div 1000").alias("gap_us"),
        )
    )
    wg = Window.partitionBy("user_id")
    ranked = gaps.select(
        "user_id",
        "gap_us",
        F.row_number()
        .over(wg.orderBy("gap_us"))
        .alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )
    at = F.ceil(F.col("n") / 2).cast("bigint")
    return ranked.groupBy("user_id").agg(
        F.max("n").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.max(F.when(F.col("rn") == at, F.col("gap_us"))).alias(
            "median_gap_us"
        ),
    )
