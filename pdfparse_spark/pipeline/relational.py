"""Relational scaffolding queries (SURVEY.md §2.D, R1–R14) over the driver's
TPC-H-ish tables.  These are the operators the extraction pipeline's shell
is made of — projection, filter, joins (broadcast + anti), hash aggregates,
windows, distinct, union, top-k, string functions, ordered reassembly —
each expressed declaratively so Catalyst handles pushdown/pruning/reorder,
with a DuckDB oracle in ``ORACLES``.

Plan hygiene (verified via .explain in tests): dimension joins broadcast
(nation/region are tiny); filters land in PushedFilters of the parquet
scan; aggregates keep partial (map-side) combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["QUERIES", "ORACLES"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ntz_diff_us(end, start):
    """Microseconds between two TIMESTAMP_NTZ columns via pure local-datetime
    subtraction.  TZ-independent by construction: NTZ minus NTZ is an
    INTERVAL DAY TO SECOND with no zone conversion, whereas
    timestamp_diff/unix_micros round-trip NTZ through the session timezone
    and shift across DST boundaries (verified in
    test_sessionize_asof_tz_independent)."""
    secs = (end - start).cast("interval day to second").cast("decimal(28,6)")
    return (secs * 1000000).cast("long")


def r1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection / rename / computed column (R1)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.upper(F.col("source")).alias("src"),
        (F.col("n_chars") / 100.0).alias("kchars"),
    )


def r2_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter / predicate routing (R2) — same shape as content-type routing."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 10))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (R1 projection, R2 filter, R5 hash aggregate).

    Scale: filter pushed to the parquet scan; partial aggregation map-side;
    only 4 groups survive the shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority (R3 equi-join chain, R9 top-k).

    Scale: customer filter prunes before the join; AQE picks broadcast for
    the filtered side when it fits; top-k is a TakeOrderedAndProject, no
    full sort.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per region/nation through customer→orders→lineitem with
    broadcast dimension joins (nation and region are tiny — F.broadcast)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def r4_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (R4) — the same primitive the resume ledger uses."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        cust.join(orders, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def r6_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (R6): per-customer order rank + running spend."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_rank"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_spend"),
    )


def r7_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct / dedup (R7)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def r8_union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of routed branches (R8) — same shape as the pdf/html/text routes."""
    orders = _t(spark, sf_dir, "orders")
    high = orders.filter(F.col("o_totalprice") > 400000).withColumn("tag", F.lit("high"))
    low = orders.filter(F.col("o_totalprice") < 10000).withColumn("tag", F.lit("low"))
    return high.unionByName(low).select("o_orderkey", "tag", F.round("o_totalprice", 2).alias("total"))


def r11_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (R11) — the classification-signal toolbox."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.length("c_name").alias("name_len"),
        F.regexp_extract("c_name", "([0-9]+)", 1).cast("long").alias("cust_num"),
        F.substring("c_mktsegment", 1, 3).alias("seg_prefix"),
        (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("is_auto"),
    )


def r13_status_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered grouped reassembly (R13) — per-conversation concatenation
    pattern: per customer, order statuses concatenated in o_orderkey order."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct(o_orderkey, o_orderstatus))),"
            " s -> s.o_orderstatus))"
        ).alias("status_seq"),
        F.count("*").alias("n_orders"),
    )


def r14_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregate (R14). Exact here so the oracle matches;
    at 100 TB swap countDistinct → approx_count_distinct (HLL, no exact
    shuffle of the full key set)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative sum (R6 advanced): a new session
    starts after a >30 min gap; per-user session/event counts."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; NTZ-minus-NTZ interval math is
    # session-TZ-independent (incl. across DST boundaries)
    gap = _ntz_diff_us(F.col("ts"), F.lag("ts").over(w))
    sess = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0))
    sess = sess.withColumn("sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return sess.groupBy("user_id").agg(
        F.max("sess_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window operator (F.session_window, 30 min
    gap) — the built-in face of the lag+cumsum sessionize: per (user,
    session) event counts, value sums, and the session's end timestamp.

    Semantics note (mirrored exactly in the oracle): session_window merges
    an event into the previous session iff gap < 30 min STRICTLY, i.e. a
    gap of exactly 1800s starts a new session — one off from the manual
    events_sessionize rule (new session iff gap > 1800s).  Both are valid
    sessionizations; the oracle pins each op's own rule.
    """
    ev = _t(spark, sf_dir, "events")
    # session_window takes the NTZ column DIRECTLY: a round-trip through
    # timestamp would reintroduce session-TZ/DST dependence (an event inside
    # a spring-forward gap shifts under a DST-observing session TZ)
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h event-time windows (the batch face of the streaming
    windowed-agg operator): per-window, per-type counts + value sums."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "6 hours").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct counts (approx_count_distinct, rsd=2%) next to
    the exact count per event type.  At 100 TB the sketch replaces the
    exact distinct's full shuffle of the key set with fixed-size
    mergeable registers.  Rows-only check (the sketch is
    implementation-defined); the ≤5% error band is pinned in pytest.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling by language (the training-data rebalance
    op): Bernoulli sampling per stratum with a fixed seed, summarized as
    per-lang kept counts.  Rows-only (sampling RNG is engine-specific);
    binomial bounds pinned in pytest.  Scale: sampleBy is a narrow map —
    no shuffle at all before the summary aggregate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # every corpus lang gets an explicit fraction: sampleBy silently
    # DROPS unlisted strata (fraction 0), so a missing entry excludes a
    # whole language from the "rebalanced" output
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25, "zh": 0.25}
    kept = d.sampleBy("lang", fractions, seed=42)
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


def r15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: users who clicked INTERSECT purchased, minus (EXCEPT)
    users who ever errored — both distinct-set semantics, implemented with
    Spark's intersect/exceptAll-free column ops (intersect + subtract are
    hash-aggregate + shuffle-on-key under the hood, same cost shape as a
    semi/anti join chain at 100 TB)."""
    ev = _t(spark, sf_dir, "events")
    # value > 45 keeps ~10% of events so the set algebra actually
    # discriminates (every user does everything at full saturation)
    hi = ev.filter(F.col("value") > 45)
    clickers = hi.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = hi.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = hi.filter(F.col("event_type") == "error").select("user_id").distinct()
    return clickers.intersect(buyers).subtract(erring).orderBy("user_id")


def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) 6h windows every 3h: each event lands in exactly
    two windows; per-window/type counts + value sums.  Spark materializes
    the overlap by exploding each row into its windows — at 100 TB the
    duplication factor is window/slide (2 here), a deliberate, bounded
    cost.  The DuckDB oracle reproduces the epoch-aligned window starts
    with integer microsecond math."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "6 hours", "3 hours").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (DuckDB oracles this with a native ASOF LEFT JOIN).

    Spark has no asof-join operator; the scalable form is union + one
    window pass — O(n log n) per user partition, one shuffle on user_id,
    never the range-join O(clicks x purchases) blowup.  Clicks are deduped
    to max event_id per (user, ts) so both engines break ts ties
    identically; at equal ts the click sorts first (kind 0 < 1), matching
    ASOF's >= semantics.
    """
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
        .select("user_id", "ts", "event_id", F.lit(0).alias("kind"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind")
    )
    u = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.withColumn(
        "click_id",
        F.last(F.when(F.col("kind") == 0, F.col("event_id")), ignorenulls=True).over(w),
    ).withColumn(
        "click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    # NTZ-direct diff: TZ-independent (see _ntz_diff_us)
    gap = _ntz_diff_us(F.col("ts"), F.col("click_ts")) / 1000000.0
    return (
        carried.filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "click_id",
            F.round(gap, 3).alias("gap_sec"),
        )
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (hypertable-rollup shape): per (event_type, day),
    per event_type, and grand-total counts + value sums in one pass —
    Spark computes the grouping sets with partial aggregation, no
    re-scan per level."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp")).cast("timestamp_ntz")
    )
    return ev.rollup("event_type", "day").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-type value-sum columns by user decile.
    Explicit pivot values keep the output schema static (no extra
    distinct-scan job, deterministic columns for the oracle)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_decile", F.pmod(F.col("user_id"), F.lit(10))
    )
    return (
        ev.groupBy("user_decile")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )


def r11_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: JSON-path extraction + aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user the
    earliest view, the earliest click strictly after it, the earliest
    purchase strictly after that; one summary row of stage counts.

    Scale: three conditional-min aggregates keyed by user_id — the two
    "after previous stage" legs are doc-keyed joins back to the same
    hash-partitioned aggregate, never a window over the full event log.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("v_ts")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    # tagged union, one final aggregate — no joins between the stage counts
    u = (
        v.select(F.lit(1).alias("stage"))
        .unionByName(c.select(F.lit(2).alias("stage")))
        .unionByName(p.select(F.lit(3).alias("stage")))
    )
    return u.agg(
        F.sum((F.col("stage") == 1).cast("long")).alias("n_view"),
        F.sum((F.col("stage") == 2).cast("long")).alias("n_click_after_view"),
        F.sum((F.col("stage") == 3).cast("long")).alias("n_purchase_after_click"),
    )


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by their first-active
    week, counted in every later week they return (the standard
    cohort-retention triangle every analytics engine ships).

    Weeks are integer indexes from the corpus epoch (floor(days/7) on the
    DATE part of ts) — pure integer arithmetic, no session-TZ or DST
    dependence.  Scale: the (user_id, week_idx) distinct shrinks the event
    log to at most users x weeks before any join; the cohort frame is
    user-keyed; the final agg is keyed by (cohort_week, week_offset) —
    three hash shuffles total, no windows over the raw log.
    """
    wk = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))) / 7
            )
            .cast("int")
            .alias("week_idx"),
        )
        .distinct()
    )
    cohort = wk.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        # (user_id, week_idx) is distinct, so count(*) IS the user count
        .agg(F.count("*").alias("n_users"))
    )


# events_anomaly: fixed-point scale for the value column (≤6 decimal digits
# in the source data ⇒ the scaled round is exact) and the z-score cut.
_ANOM_SCALE = 1_000_000
_ANOM_Z = 3.0


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type outlier detection: flag events whose value sits ≥3
    population standard deviations from the event_type mean — the metric
    anomaly sweep every telemetry pipeline runs.

    Cross-engine determinism: double sums are order-dependent, so the
    moments are computed on u = round(value·10⁶) held as DECIMAL(38,0) —
    exact integer arithmetic with one canonical result in any summation
    order (and on any cluster topology).  The z-score is then
    (n·u − S1)/sqrt(n·S2 − S1²): the numerator is < 2⁵³ (exact as a
    double), decimal→double and sqrt are correctly rounded in both
    engines, and one IEEE divide ends the chain — the same
    transcendental-free discipline as text_tfidf_topk.

    Scale: one event_type-keyed moment aggregate (|types| rows, broadcast
    back) and a stateless per-row predicate — the event log itself never
    shuffles.  At 10¹² rows/type the DECIMAL(38,0) second moment needs
    ~10³⁰ headroom of its 10³⁸ — rescale u (or shard the aggregate) past
    that.
    """
    e = _t(spark, sf_dir, "events")
    u = F.round(F.col("value") * _ANOM_SCALE, 0).cast("decimal(38,0)")
    ev = e.select("event_id", "event_type", "value", u.alias("u"))
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("u").alias("s1"),
        F.sum(F.col("u") * F.col("u")).alias("s2"),
    )
    # a singleton or constant-valued type has n·S2 − S1² = 0 → z = 0/0 = NaN,
    # and Spark orders NaN above every number, so abs(z) ≥ 3 would flag the
    # WHOLE degenerate group: zero-variance types carry no anomaly signal
    # and are excluded up front (mirrored in the oracle)
    j = ev.join(F.broadcast(stats), "event_type").where(
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1") > 0
    )
    num = (F.col("n") * F.col("u") - F.col("s1")).cast("double")
    den = F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
    z = num / den
    return (
        j.withColumn("z", z)
        .where(F.abs(F.col("z")) >= _ANOM_Z)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.col("z"), 4).alias("z_score"),
        )
    )


def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams (explode + count + top-k) over
    documents — the corpus-statistics face of the shingle machinery."""
    d = _t(spark, sf_dir, "documents").select(
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')").alias("arr")
    )
    bigrams = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(arr) >= 2 THEN transform(sequence(1, size(arr) - 1), "
                "i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


ORACLES: dict[str, str] = {
    "r1_projection": """
        SELECT doc_id, upper(source) AS src, n_chars / 100.0 AS kchars FROM documents
    """,
    "r2_filter": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 10
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_top_orders": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_revenue_by_nation": """
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "r4_customers_no_orders": """
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer ANTI JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    "r6_order_window": """
        SELECT o_custkey, o_orderkey,
               row_number() OVER w AS order_rank,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "r7_distinct_flags": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "r8_union_tagged": """
        SELECT o_orderkey, 'high' AS tag, round(o_totalprice, 2) AS total
        FROM orders WHERE o_totalprice > 400000
        UNION ALL
        SELECT o_orderkey, 'low' AS tag, round(o_totalprice, 2) AS total
        FROM orders WHERE o_totalprice < 10000
    """,
    "r11_string_funcs": """
        SELECT c_custkey,
               length(c_name) AS name_len,
               CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num,
               substring(c_mktsegment, 1, 3) AS seg_prefix,
               CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS is_auto
        FROM customer
    """,
    "r13_status_reassembly": """
        SELECT o_custkey,
               string_agg(o_orderstatus, '' ORDER BY o_orderkey) AS status_seq,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "r14_event_users": """
        SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY event_type
    """,
    "events_session_window": """
        WITH g AS (
            SELECT user_id, ts, event_id, value,
                   epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM events
        ), s AS (
            SELECT user_id, ts, value,
                   sum(CASE WHEN gap IS NULL OR gap >= 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g
        )
        SELECT user_id,
               min(ts) AS sess_start,
               max(ts) + INTERVAL 30 MINUTE AS sess_end,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM s GROUP BY user_id, sid
    """,
    "events_tumbling_window": """
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "r11_json_extract": """
        SELECT event_type,
               count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        FROM events GROUP BY event_type
    """,
    "r15_set_ops": """
        SELECT user_id FROM (
            SELECT user_id FROM events WHERE event_type = 'click' AND value > 45
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 45
        )
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error' AND value > 45
    """,
    "events_hopping_window": """
        WITH hops AS (
            SELECT event_type, value,
                   unnest([
                       epoch_us(ts) - epoch_us(ts) % 10800000000,
                       epoch_us(ts) - epoch_us(ts) % 10800000000 - 10800000000
                   ]) AS win_us
            FROM events
        )
        SELECT make_timestamp(win_us) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM hops GROUP BY 1, 2
    """,
    "events_asof_join": """
        WITH clicks AS (
            SELECT user_id, ts, max(event_id) AS event_id
            FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        ), purchases AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
               round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 3) AS gap_sec
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "events_rollup": """
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY ROLLUP(event_type, day)
    """,
    "events_pivot": """
        SELECT user_id % 10 AS user_decile,
               round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
               round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
               round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
               round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
               round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        FROM events GROUP BY 1
    """,
    "text_ngrams": """
        WITH toks AS (
            SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> w <> '') AS arr
            FROM documents
        ), bg AS (
            SELECT unnest(list_transform(range(1, greatest(len(arr), 1)),
                          i -> arr[i] || ' ' || arr[i+1])) AS bigram
            FROM toks WHERE len(arr) >= 2
        )
        SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 20
    """,
    "events_funnel": """
        WITH v AS (
            SELECT user_id, min(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.v_ts
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click_after_view,
               (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    "events_retention": """
        WITH wk AS (
            SELECT DISTINCT user_id,
                   CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS INT)
                       AS week_idx
            FROM events
        ), cohort AS (
            SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY user_id
        )
        SELECT c.cohort_week, w.week_idx - c.cohort_week AS week_offset,
               count(*) AS n_users
        FROM wk w JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    """,
    "events_anomaly": f"""
        WITH ev AS (
            SELECT event_id, event_type, value,
                   CAST(round(value * {_ANOM_SCALE}) AS HUGEINT) AS u
            FROM events
        ), st AS (
            SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                   sum(u) AS s1, sum(u * u) AS s2
            FROM ev GROUP BY event_type
        ), z AS (
            -- same operation order as the Spark side: exact integer
            -- numerator/denominator, two correctly-rounded casts to
            -- double, one sqrt, one divide
            SELECT event_id, event_type, value,
                   CAST(n * u - s1 AS DOUBLE)
                       / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) AS zz
            FROM ev JOIN st USING (event_type)
            WHERE n * s2 - s1 * s1 > 0  -- zero-variance types: no signal
        )
        SELECT event_id, event_type, value, round(zz, 4) AS z_score
        FROM z WHERE abs(zz) >= {_ANOM_Z}
    """,
    "events_sessionize": """
        WITH g AS (
            SELECT user_id, ts, event_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id,
                   sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
            FROM g
        )
        SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        FROM s GROUP BY user_id
    """,
}

QUERIES = {
    "r1_projection": r1_projection,
    "r2_filter": r2_filter,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q5_revenue_by_nation": q5_revenue_by_nation,
    "r4_customers_no_orders": r4_customers_no_orders,
    "r6_order_window": r6_order_window,
    "r7_distinct_flags": r7_distinct_flags,
    "r8_union_tagged": r8_union_tagged,
    "r11_string_funcs": r11_string_funcs,
    "r13_status_reassembly": r13_status_reassembly,
    "r14_event_users": r14_event_users,
    "events_sessionize": events_sessionize,
    "events_session_window": events_session_window,
    "events_tumbling_window": events_tumbling_window,
    "r15_set_ops": r15_set_ops,
    "events_approx_users": events_approx_users,  # rows-only (sketch)
    "docs_stratified_sample": docs_stratified_sample,  # rows-only (RNG)
    "events_hopping_window": events_hopping_window,
    "events_asof_join": events_asof_join,
    "events_rollup": events_rollup,
    "events_pivot": events_pivot,
    "r11_json_extract": r11_json_extract,
    "text_ngrams": text_ngrams,
    "events_funnel": events_funnel,
    "events_retention": events_retention,
    "events_anomaly": events_anomaly,
}
