"""Windowed, grouped and set-based analytics over the star schema and the
event log (extended engine).

The reference has no SQL layer (SURVEY.md top matter); these operators
exercise the analytic surface Catalyst plans for free: ranking, running and
bounded-frame windows, event-time tumbling/sliding windows and
sessionization, ROLLUP/CUBE grouping sets, percentiles, pivot/unpivot,
anti/semi joins and EXCEPT, salted aggregation and joins for skewed keys,
and product-analytics funnels, retention and cohort revenue.

Scale notes:
- SF-proportional dimensions (customer, part) joined to a fact table get a
  SIZE-GATED hint via ``sources.tables.maybe_broadcast`` — an explicit hint
  is honored by Spark regardless of size (AQE demotes auto-planned
  broadcasts, never hinted ones), so hinting a growing table
  unconditionally would OOM at 100x scale instead of demoting to a shuffle
  join; one-row aggregates are broadcast unconditionally;
- aggregates are partial (map-side combine) automatically via hash-agg;
- money sums are rounded to 2 dp and averages to 4 dp IN THE QUERY so the
  DuckDB oracle value-hash is float-order insensitive.

Timestamps are returned as formatted strings, never raw: the testdata's
parquet timestamps are nanosecond-precision, which Spark truncates to
microseconds — raw values can never hash-match a ns-precision engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import (
    BROADCAST_MAX_BYTES,
    load_table,
    maybe_broadcast,
    parquet_size_bytes,
)


def window_topn_orders(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Top-N orders per customer — ranking window (batch top-k per group).

    Same kernel as batched k-NN ranking (SURVEY.md section 2.3): partition by
    group key, order, row_number <= n. Shuffles once on o_custkey.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order total per customer over time — running-sum window.

    The idiomatic rewrite of the reference's sequential carry-forward loop
    (markdown heading carry, indexing_agent.py:242-288 — SURVEY.md section 2.5).
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never placed an order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def customers_with_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers with at least one order above a threshold."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows, batch form.

    Window start is returned as a formatted string (ns-precision parity,
    module docstring).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user via lag + cumulative flag sum.

    A new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Pure window algebra — no stateful UDF needed in batch.
    """
    e = load_table(spark, sf_dir, "events")
    by_ts = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    epoch_s = F.unix_timestamp("ts")
    gap = epoch_s - F.lag(epoch_s, 1).over(by_ts)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessioned = e.withColumn(
        "session_id",
        F.sum(new_session).over(
            by_ts.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessioned.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


def rollup_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(mktsegment, orderstatus): per-pair,
    per-segment subtotal, and grand total in one aggregation pass.

    GROUPING SETS are absent in the reference; in Spark the rollup is a
    single shuffle (Expand feeds one hash aggregate) — strictly cheaper
    than the three separate groupBys it replaces.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return (
        j.rollup("c_mktsegment", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("int").alias("grp"),
        )
    )


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE(orderstatus, orderpriority): all four grouping sets —
    per-pair, each dimension alone, grand total — in ONE aggregation
    pass, completing the GROUPING SETS surface next to
    ``rollup_segment_status``.

    Spark plans a single Expand feeding one hash aggregate: one shuffle
    for every subtotal level (pinned in tests/test_plans.py), strictly
    cheaper at 100 TB than the four separate groupBys it replaces —
    Expand multiplies rows map-side where the partial aggregate
    immediately collapses them.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().cast("int").alias("grp"),
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) percentiles of extended price per return flag:
    the ceil(q*n)-th smallest value, selected by ranking window.

    Deliberately rank-based rather than Spark's interpolating
    ``percentile``: interpolation arithmetic differs across engines in the
    last ulp (lower + frac*(upper-lower) vs the symmetric form), which can
    flip a 2-dp rounding — rank selection returns a STORED value, so both
    engines agree bit-for-bit. One shuffle (window + final agg share the
    l_returnflag partitioning).
    """
    l = load_table(spark, sf_dir, "lineitem")
    by_flag = Window.partitionBy("l_returnflag")
    ranked = l.select("l_returnflag", "l_extendedprice").select(
        "*",
        F.row_number()
        .over(by_flag.orderBy("l_extendedprice"))
        .alias("rn"),
        F.count(F.lit(1)).over(by_flag).alias("n"),
    )

    def pick(q: float, name: str):
        at = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return F.max(
            F.when(F.col("rn") == at, F.col("l_extendedprice"))
        ).alias(name)

    return ranked.groupBy("l_returnflag").agg(
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99")
    )


def setop_active_noncustomers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with events but no orders: EXCEPT (distinct set difference).

    The event-user and order-customer id domains overlap in the testdata;
    set ops compile to a left-anti-style aggregate join in Spark.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("uid")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("uid")
    )
    return e.subtract(o)  # EXCEPT DISTINCT, same as the SQL set op


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the integer `k` from the events' JSON props column and roll
    it up per event type — JSON path extraction (get_json_object) staying
    fully JVM-side.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def salted_event_totals(
    spark: SparkSession, sf_dir: str, n_salts: int = 16
) -> DataFrame:
    """Two-stage salted aggregation over a LOW-cardinality, skewed key.

    event_type has ~5 values; a naive groupBy funnels the whole table into
    5 reducers regardless of cluster size. Salting fans the partial
    aggregate across (key, salt) — n_salts * n_keys reducers — and the
    final stage combines n_salts tiny rows per key. Same result as the
    plain groupBy (the oracle IS the plain groupBy); at 100 TB this is the
    difference between 5 hot reducers and full-cluster parallelism.
    The salt is deterministic (event_id % n_salts), not rand(), so the
    query stays reproducible and oracle-checkable.
    """
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.col("event_id") % n_salts)
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("total_value"),
    )


# The enumerated pivot columns — shared by pivot_event_matrix and its
# unpivot dual so the two can never drift (review r7).
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User x event_type count matrix via pivot (wide aggregation).

    The pivot values are enumerated explicitly — at scale an implicit pivot
    forces an extra distinct-values job over the full table; enumerating
    them keeps it to ONE aggregation pass.
    """
    e = load_table(spark, sf_dir, "events")
    types = EVENT_TYPES
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: Pearson correlation and
    sample covariance of quantity vs extended price. Both engines use
    numerically-stable merge formulas; values are O(1)/O(1e5) so the 4/2 dp
    rounding sits far above float noise.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def events_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: events per (day-of-week name, hour-of-day).

    Day names instead of numeric dow — Spark (1=Sunday) and DuckDB
    (0=Sunday) disagree on numbering, English names are unambiguous.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "EEEE").alias("dow"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows: 1-hour length, 30-minute hop — each
    event lands in two overlapping windows (built-in `window()`, epoch
    aligned). Completes the window-family trio: tumbling
    (events_tumbling_counts), session (events_sessionize), sliding.
    """
    e = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        e.groupBy(
            F.date_format(win.start, "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding frame: 3-order moving TOTAL of order value per
    customer — the bounded-frame window variant (running_revenue covers
    the unbounded growing frame).

    Explicit lag arithmetic rather than sum() OVER a bounded frame, and a
    sum rather than an average: frame aggregates associate differently
    across engines (DuckDB segment tree), and dividing by the row count
    manufactures exact .xx5 rounding ties where Spark's BigDecimal
    HALF_UP and DuckDB's float-path round() disagree. Sums of 2-dp values
    never sit near a 2-dp rounding boundary, so the result is cross-engine
    stable.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    l1 = F.lag("o_totalprice", 1).over(w)
    l2 = F.lag("o_totalprice", 2).over(w)
    total = F.col("o_totalprice") + F.coalesce(l1, F.lit(0.0)) + F.coalesce(
        l2, F.lit(0.0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(total, 2).alias("sum_last3"),
    )


def salted_skew_join(
    spark: SparkSession, sf_dir: str, n_salts: int = 8
) -> DataFrame:
    """Skew-neutralized join against a hot low-cardinality key.

    event_type has 5 values — a plain shuffle join lands each value on one
    reducer. Salting: the fact side derives a deterministic salt
    (event_id % n_salts); the 5-row dimension side is EXPLODED n_salts
    times; the join key becomes (event_type, salt), fanning each hot key
    across n_salts reducers. The oracle is the plain unsalted join —
    salting must be result-invariant. (AQE skew-join does this adaptively
    for shuffle joins; explicit salting is the static variant that also
    works where AQE can't see the skew, e.g. under aggregation.)
    """
    e = load_table(spark, sf_dir, "events")
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0),
         ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    salted_dim = weights.select(
        "event_type", "weight",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("salt"),
    )
    salted_fact = e.withColumn("salt", (F.col("event_id") % n_salts).cast("int"))
    joined = salted_fact.join(salted_dim, ["event_type", "salt"])
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
    )


def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: orders above the global average order value,
    summarized per market segment.

    The scalar aggregate is computed once and broadcast into the filter
    (crossJoin of a 1-row frame — Catalyst plans a broadcast nested-loop
    with a single-row build side, the same plan a SQL scalar subquery
    gets). One pass over orders for the average, one for the filter+agg.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_row = o.agg(F.avg("o_totalprice").alias("avg_price"))
    c = maybe_broadcast(c, parquet_size_bytes(sf_dir, "customer"))
    return (
        o.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def histogram_order_totals(
    spark: SparkSession, sf_dir: str, lo: float = 0.0, width: float = 25_000.0
) -> DataFrame:
    """Equi-width histogram of order totals: bucket index, row count,
    and exact-cent value mass per bucket — the distribution-profiling
    primitive behind every data-quality dashboard.

    One map-side-combined groupBy on a derived integer — the minimal
    shape (the corpus collapses to #buckets partial rows per partition
    before the shuffle). Bucketing arithmetic ``floor((x - lo)/width)``
    is a single IEEE expression over identical stored doubles, so both
    engines produce identical indices bit-for-bit (single-op floats
    only diverge under accumulation order, never per-row); the value
    mass is summed in exact integer cents (prices are 2-dp decimals
    stored as doubles — the repo's established money discipline).
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)).cast(
        "int"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select(bucket.alias("bucket"), cents.alias("cents"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


def events_anomaly_zscore(
    spark: SparkSession, sf_dir: str, z_threshold_micro: int = 2_000_000
) -> DataFrame:
    """Per-series z-score outliers: events whose value sits more than
    ``z_threshold_micro``/1e6 population standard deviations from their
    event-type mean — the monitoring pass that feeds alerting at scale.

    Two-pass shape (the only correct one for a global statistic): one
    map-side-combined aggregate computes per-type (mean, stddev_pop) —
    #types rows — which re-enter as a BROADCAST join onto the second
    scan; the anomaly filter then cuts the output to the tail before
    anything shuffles. z carries as floor-scaled integer micros and the
    threshold compares integers, so the flag boundary has no
    cross-engine float hazard (aggregate merge noise ~1e-15 relative
    sits far below the 1e-6 grid).
    """
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
    )
    z_micro = F.floor(
        (F.col("value") - F.col("mu")) / F.col("sigma") * 1e6
    ).cast("bigint")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select("event_type", "event_id", "value", z_micro.alias("z_micro"))
        .filter(
            (F.col("z_micro") >= z_threshold_micro)
            | (F.col("z_micro") < -z_threshold_micro)
        )
    )


def skew_key_profile(
    spark: SparkSession, sf_dir: str, top_n: int = 10
) -> DataFrame:
    """Join/groupBy-key skew diagnostics: the top-N heaviest user_id
    keys in the events table with their exact share of all rows — the
    measurement a pipeline runs BEFORE deciding to salt a key (the
    engine's salted_event_totals / salted_skew_join are the mitigation;
    this is the detection). A key above ~1/parallelism share means one
    task carries that fraction of the shuffle — the signal to salt.

    One map-side-combined groupBy (the corpus collapses to one row per
    distinct key per partition), a 1-row total re-entering as a
    broadcast, and a TakeOrderedAndProject cut — no global sort. Share
    is exact integer micro-units (cnt·10⁶ div total).
    """
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div total").alias("share_micro"),
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(top_n)
    )


def unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the dual of ``pivot_event_matrix``: the wide
    user x event_type count matrix back to long (user_id, event_type,
    n_events) rows, keeping only nonzero cells. Wide-to-long is the
    other half of the reshape API a warehouse user expects; Spark's
    ``DataFrame.unpivot`` compiles to a single Expand node — one narrow
    pass, no shuffle beyond the pivot's own aggregation.

    Round-trip contract: unpivot(pivot(events)) equals the plain
    groupBy(user_id, event_type) counts — pinned by the oracle (which
    computes the long form directly) and the conservation unit test.
    """
    wide = pivot_event_matrix(spark, sf_dir)
    types = EVENT_TYPES
    return (
        wide.unpivot(
            ids=["user_id"],
            values=[f"n_{t}" for t in types],
            variableColumnName="event_type",
            valueColumnName="n_events",
        )
        .filter(F.col("n_events") > 0)
        .select(
            "user_id",
            F.expr("substring(event_type, 3)").alias("event_type"),
            "n_events",
        )
    )


def window_trailing_value_sum(
    spark: SparkSession, sf_dir: str, trailing_s: int = 60
) -> DataFrame:
    """Time-RANGE window frame: for every event, the sum of the same
    user's values over the trailing ``trailing_s`` seconds (inclusive)
    — the trailing-revenue/rate-limiter primitive that ROWS frames
    cannot express (the frame is defined by TIME distance, not row
    count). ``rangeBetween`` over integer epoch-µs keeps the frame
    boundary exact.

    Determinism: bounded-frame FLOAT aggregates associate differently
    across engines (DuckDB's segment tree vs Spark's running frame —
    the repo's documented window gotcha), so each value is floor-scaled
    to integer micros FIRST and the window sums integers — exact in
    any association order. One shuffle (window partitioned by user).
    """
    e = load_table(spark, sf_dir, "events")
    rows = e.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 1e6).cast("bigint").alias("v_micro"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-trailing_s * 1_000_000, 0)
    )
    return rows.select(
        "user_id",
        "event_id",
        F.sum("v_micro").over(w).alias("trailing_sum_micro"),
    )


def basket_brand_lift(
    spark: SparkSession, sf_dir: str, top_n: int = 20
) -> DataFrame:
    """Market-basket association mining over order contents: for the
    ``top_n`` most co-purchased brand pairs, their co-occurrence count
    and LIFT (observed co-rate over the independence expectation) — the
    Apriori first pass / recommendation-affinity kernel.

    Scale shape: baskets collapse to DISTINCT (order, brand) ONCE and
    the deduped frame is MATERIALIZED (localCheckpoint) before its
    three consumers — pairs, singles, basket total — otherwise column
    pruning forks the plan into three separate fact scans + distinct
    shuffles (review r7; the dedup.py/invindex.py shared-subtree
    pattern). Pairs come from the ordered equi self-join ON THE ORDER
    KEY (u < v kills mirror duplicates; same-basket blocking bounds the
    intermediate by sum of squared basket sizes, never corpus²);
    singles and the total re-enter as broadcasts.

    Lift is exact integer micro-units
    ``lift = P(ab)/(P(a)P(b)) = (n_ab · n_orders · 10⁶) div (n_a · n_b)``
    with the product computed in DECIMAL(38,0) (HUGEINT in the oracle):
    n_ab grows linearly with n_orders for popular pairs, so the bigint
    bound would break near n_orders ~ 10⁶·(1/co-rate) — far below real
    corpus sizes — and Spark 4's ANSI mode would throw mid-query
    (review r7). The final quotient (a small lift ratio in micros)
    casts back to bigint.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        l.join(maybe_broadcast(p, parquet_size_bytes(sf_dir, "part"),
                               BROADCAST_MAX_BYTES),
               l.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = ob.select("okey", F.col("brand").alias("u"))
    b = ob.select("okey", F.col("brand").alias("v"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    singles = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_one"))
    n_orders = ob.select("okey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("brand").alias("u"),
                                       F.col("n_one").alias("n_a"))), "u")
        .join(
            F.broadcast(singles.select(F.col("brand").alias("v"),
                                       F.col("n_one").alias("n_b"))), "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "u", "v", "n_ab",
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("n_ab"), F.asc("u"), F.asc("v"))
        .limit(top_n)
    )


def user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature vector from the event log — the feature-
    engineering wide aggregation every ML pipeline materializes: event
    counts per type, distinct active days, first/last seen.

    TWO-STAGE aggregation, not count_distinct: a distinct aggregate
    rewrites into an Expand that duplicates every input row and still
    pays two exchanges (review r7 — the plan disproved the one-shuffle
    claim). Instead stage 1 groups by (user, day) — map-side-combined,
    the only corpus-sized exchange — and stage 2 reduces the user×day
    rows (tiny) to the profile, where active_days is a plain count.
    All-integer / formatted-date output (exact cross-engine).
    """
    e = load_table(spark, sf_dir, "events")
    per_type = [
        F.sum((F.col("event_type") == t).cast("bigint")).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    per_day = e.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        *per_type,
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    return per_day.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        *[F.sum(f"n_{t}").alias(f"n_{t}") for t in EVENT_TYPES],
        F.count(F.lit(1)).alias("active_days"),
        F.date_format(F.min("min_ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_seen"
        ),
        F.date_format(F.max("max_ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_seen"
        ),
    )


def events_funnel_conversion(
    spark: SparkSession, sf_dir: str, horizon_hours: int = 24
) -> DataFrame:
    """Ordered-sequence funnel over the event log — the
    MATCH_RECOGNIZE-shaped product-analytics query (view → click →
    purchase, earliest-completion semantics): per user, t1 = first
    view, t2 = first click STRICTLY AFTER t1 within ``horizon_hours``,
    t3 = first purchase strictly after t2 within the same horizon.
    One row per stage: users reaching it and the total seconds from t1
    (exact integer ns div, tie-free; the view stage anchors at 0).

    Scale shape (r16, guide §2.4 — remove shuffles outright): ONE scan
    of the fact table, filtered to the three funnel types, shuffled
    ONCE on user_id; the three dependent stage minima are unordered
    per-user window aggregates over that single exchange (t1 feeds the
    t2 window predicate feeds the t3 one — the sequential dependency
    that previously forced two event-level joins, each re-scanning and
    re-shuffling an event slice). The per-user collapse reuses the
    window partitioning (no second corpus exchange) and the final
    three-stage rollup is one 1-row aggregate exploded to the three
    output rows. Exchange count: 2 (was 8, with 3 fact scans).
    Horizon comparisons use ``ts_ns`` (µs-truncated epoch ns, the
    cross-engine contract — see events_time_exprs); a timestamp-typed
    horizon add would round-trip through µs arithmetic identically but
    the integer form keeps the bound exact by construction.
    """
    from pyspark.sql.window import Window

    h_ns = F.lit(int(horizon_hours) * 3600 * 1_000_000_000)
    w = Window.partitionBy("user_id")
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts_ns")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
    )
    # t1 = first view; t2 = first click in (t1, t1+h]; t3 = first
    # purchase in (t2, t2+h] — identical semantics to the former
    # slice-join-min chain: each min() skips rows where its WHEN guard
    # is null/false, and a null t1/t2 nulls the dependent stage.
    staged = (
        e.withColumn(
            "t1",
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts_ns"))
            ).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_ns") > F.col("t1"))
                    & (F.col("ts_ns") <= F.col("t1") + h_ns),
                    F.col("ts_ns"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_ns") > F.col("t2"))
                    & (F.col("ts_ns") <= F.col("t2") + h_ns),
                    F.col("ts_ns"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    # one row with every stage's count and gap-sum, exploded to the
    # three (stage, users, total_gap_s) rows the contract serves
    agg = per_user.agg(
        F.count("t1").alias("u1"),
        F.count("t2").alias("u2"),
        F.coalesce(
            F.sum(F.expr("(t2 - t1) div 1000000000")), F.lit(0)
        )
        .cast("bigint")
        .alias("g2"),
        F.count("t3").alias("u3"),
        F.coalesce(
            F.sum(F.expr("(t3 - t1) div 1000000000")), F.lit(0)
        )
        .cast("bigint")
        .alias("g3"),
    )
    zero = F.lit(0).cast("bigint")
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("stage"),
                    F.col("u1").alias("users"),
                    zero.alias("total_gap_s"),
                ),
                F.struct(
                    F.lit("2_click").alias("stage"),
                    F.col("u2").alias("users"),
                    F.col("g2").alias("total_gap_s"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("stage"),
                    F.col("u3").alias("users"),
                    F.col("g3").alias("total_gap_s"),
                ),
            )
        ).alias("r")
    ).select("r.stage", "r.users", "r.total_gap_s")


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle — signup-cohort week × weeks-since-
    signup → distinct active users (the classic cohort heatmap feed).
    A user's cohort day is their FIRST signup event; any later event
    (of any type) marks them active in week offset
    ``(day − cohort_day) div 7``; pre-signup activity is out of scope
    (offset ≥ 0 only).

    Scale shape: stage 1 reduces the scan to (user, day) — map-side
    combined, the one corpus-sized exchange (the user_activity_profile
    discipline: never count_distinct over the fact table) — the cohort
    frame and the final (cohort, offset) rollup both run on that tiny
    per-user-day frame. All-integer day arithmetic via datediff on
    DATE-truncated timestamps (exact cross-engine; no TZ ambiguity —
    the contract TZ is UTC).

    r16 (guide §2.4): the cohort day is attached with an unordered
    per-user WINDOW min over the per-user-day frame instead of the
    former groupBy(user) + self-join — the join re-planned the per_day
    aggregate subtree on both sides (two corpus scans pre-reuse) and
    cost a cohort-side exchange; the window is one reduced-frame
    exchange and no join at all. min(day WHERE has_signup) over the
    user partition is the same cohort day, and users with no signup
    get a null cohort_day, dropped by the same day ≥ cohort_day filter
    that the inner join used to enforce.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    per_day = (
        e.select(
            "user_id",
            F.col("event_type"),
            F.to_date("ts").alias("day"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.max((F.col("event_type") == "signup").cast("int")).alias(
                "has_signup"
            )
        )
    )
    cohorted = per_day.withColumn(
        "cohort_day",
        F.min(F.when(F.col("has_signup") == 1, F.col("day"))).over(
            Window.partitionBy("user_id")
        ),
    )
    user_weeks = (
        cohorted
        .filter(F.col("day") >= F.col("cohort_day"))
        .select(
            F.date_format(
                F.date_sub(
                    F.col("cohort_day"),
                    F.dayofweek("cohort_day") - 1,
                ),
                "yyyy-MM-dd",
            ).alias("cohort_week"),
            F.expr(
                "CAST(datediff(day, cohort_day) div 7 AS BIGINT)"
            ).alias("week_offset"),
            "user_id",
        )
        # collapse a user's multiple active days inside one offset week
        # BEFORE counting — active_users is distinct users, and the
        # two-stage reduction keeps count_distinct's Expand out of the
        # plan (both stages run on the already-tiny per-user-day frame)
        .groupBy("user_id", "cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("_days"))
    )
    return user_weeks.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


def events_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve feed — the revenue companion to
    ``events_retention_cohorts``: signup-cohort week × weeks-since-
    signup → purchase revenue, in exact integer cents (value floor-
    scaled ×100 per event before any sum, the tie-free discipline).
    Post-signup purchases only, same Sunday-aligned cohort labels.

    Scale shape: ONE corpus-sized aggregate — ONE scan filtered to the
    two relevant types reduces per (user, day) map-side, carrying both
    the purchase-cents sum and the signup flag (r16, guide §2.4: the
    former shape scanned events twice — a signup slice and a purchase
    slice — and shuffle-joined them; the conditional aggregate + an
    unordered per-user window min replaces both the second scan and
    the join, the events_retention_cohorts discipline). Purchase-day
    rows are identified by a has_pur flag, NOT by cents being non-null,
    so a day whose purchases all carry null values still groups exactly
    as the former purchase-slice row did. No count_distinct, no Expand.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    per_day = (
        e.filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.col("event_type"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents0"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents0"))
            ).alias("cents"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "has_pur"
            ),
            F.max((F.col("event_type") == "signup").cast("int")).alias(
                "has_signup"
            ),
        )
    )
    purchases = per_day.withColumn(
        "cohort_day",
        F.min(F.when(F.col("has_signup") == 1, F.col("day"))).over(
            Window.partitionBy("user_id")
        ),
    ).filter(F.col("has_pur") == 1)
    return (
        purchases
        .filter(F.col("day") >= F.col("cohort_day"))
        .groupBy(
            F.date_format(
                F.date_sub(
                    F.col("cohort_day"), F.dayofweek("cohort_day") - 1
                ),
                "yyyy-MM-dd",
            ).alias("cohort_week"),
            F.expr(
                "CAST(datediff(day, cohort_day) div 7 AS BIGINT)"
            ).alias("week_offset"),
        )
        .agg(F.sum("cents").alias("revenue_cents"))
    )
