"""Feature-store semantics: PIT/as-of (f-ops), versioned store mutations, rollups (h-ops), streaming-state witnesses (sd-ops), sessionization and store-backed IO maintenance.

Split from suite.py (round 4); assembled by suite.py."""

from __future__ import annotations

import math  # noqa: F401
import tempfile  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .operators.asof import asof_join  # noqa: F401
from .operators.pit import (  # noqa: F401
    entity_filter,
    latest_per_entity,
    temporal_filter,
    top_k_per_group,
)
from .suite_common import *  # noqa: F401,F403


# --------------------------------------------------------------------------- #
# F-ops: reference feature-store semantics on the events table
# --------------------------------------------------------------------------- #


def q_f1_register_pit_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end store path: register events as a feature table (memory
    backend), then PIT ``get`` for users 0-19 at a cutoff — exercises
    validation, registration, temporal+entity filters, argmax and
    projection through the public FeatureStore API (reference
    store.py:129-157 + 218-259)."""
    import datetime as dt

    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("__row_id__", "event_type")
    fs = FeatureStore(spark)
    fs.register("ev", feats)
    out = fs.get("ev", list(range(20)), dt.datetime(2024, 1, 25), columns=["value"])
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "value",
    )


def q_f2_temporal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = temporal_filter(ev, "2024-01-10", ts_col="ts")
    return out.select("event_id", "user_id", _US("ts").alias("ts_us"), "event_type", "value")


def q_f3_entity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = entity_filter(ev, [1, 3, 5, 7, 11], entity_col="user_id")
    return out.select("event_id", "user_id", _US("ts").alias("ts_us"), "value")


def q_f4_latest_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = latest_per_entity(ev, entity_col="user_id", ts_col="ts", tiebreak_col="event_id")
    return out.select("user_id", "event_id", _US("ts").alias("ts_us"), "event_type", "value")


def q_f6_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    out = temporal_filter(ev, "2024-01-20", ts_col="ts")
    out = entity_filter(out, list(range(0, 10)), entity_col="user_id")
    out = latest_per_entity(out, entity_col="user_id", ts_col="ts", tiebreak_col="event_id")
    return out.select("user_id", "event_id", _US("ts").alias("ts_us"), "event_type", "value")


def q_f7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = events_features(spark, sf_dir)
    spine = feats.filter(F.col("event_type") == "purchase").select("entity_id", "timestamp")
    out = asof_join(spine, feats, strategy="union", keep_spine_ts=True)
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "event_type",
        "value",
        _US("as_of_timestamp").alias("as_of_us"),
    )


def q_f7_asof_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set construction against a (entity x date-grid) spine —
    the canonical 'build me features as of these dates' query."""
    feats = events_features(spark, sf_dir)
    dates = spark.createDataFrame(
        [("2024-01-08",), ("2024-01-15",), ("2024-01-22",)], ["d"]
    ).select(F.col("d").cast("timestamp").alias("timestamp"))
    users = feats.select("entity_id").distinct()
    spine = users.crossJoin(dates)
    out = asof_join(spine, feats, strategy="union", keep_spine_ts=True)
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "value",
        _US("as_of_timestamp").alias("as_of_us"),
    )


def q_f7e_asof_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT as-of training set (Feast get_historical_features contract):
    every (user x early grid date) spine row survives; users whose first
    event is after the date carry NULL features instead of vanishing.
    Same union strategy and single shuffle as f7 — only the final filter
    differs (operators/asof.py how='left')."""
    feats = events_features(spark, sf_dir)
    dates = spark.createDataFrame(
        [("2024-01-02",), ("2024-01-15",)], ["d"]
    ).select(F.col("d").cast("timestamp").alias("timestamp"))
    users = feats.select("entity_id").distinct()
    spine = users.crossJoin(dates)
    out = asof_join(spine, feats, strategy="union", keep_spine_ts=True, how="left")
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "value",
        _US("as_of_timestamp").alias("as_of_us"),
    )


def q_f16_label_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe LABEL construction — the forward-window twin of the
    as-of feature join: for each spine row, the label aggregates events
    STRICTLY AFTER the spine timestamp within (t, t+7d] (did the user
    purchase? how much?). Features look backward (f7/f13/f15), labels
    look forward; together they make a training row with no time
    leakage in either direction. Same band-join cost envelope as f13."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    spine = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", F.col("event_id").alias("spine_id")
    )
    e = ev.alias("e")
    s = spine.alias("s")
    j = s.join(
        e,
        (F.col("s.user_id") == F.col("e.user_id"))
        & (F.col("e.ts") > F.col("s.ts"))
        & (F.col("e.ts") <= F.col("s.ts") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    is_buy = F.col("e.event_type") == "purchase"
    return j.groupBy(
        F.col("s.user_id").alias("user_id"),
        _US(F.col("s.ts")).alias("ts_us"),
        F.col("s.spine_id").alias("spine_id"),
    ).agg(
        F.coalesce(F.sum(is_buy.cast("long")), F.lit(0)).alias("n_future_purchases"),
        (F.coalesce(F.sum(is_buy.cast("long")), F.lit(0)) > 0).alias("label_converted"),
        F.coalesce(F.sum(F.when(is_buy, F.col("e.cents"))), F.lit(0))
        .cast("long")
        .alias("future_purchase_cents"),
    )


def q_f15_decayed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed feature aggregation as-of each spine row (the
    Chronon-style decayed counter): every event in the trailing 7 days
    contributes value * 0.97^age_hours, with the decay curve as an
    integer micro-unit lookup table so the whole aggregate is integer
    arithmetic — order-independent and engine-exact (see _DECAY_MICRO).

    Formulated as the band-bounded pairwise join (explosion bounded by
    events-per-entity-per-7d, the same cost envelope as f13); at
    streaming scale the factorized incremental form (decay the running
    sum by the batch gap, add new terms) maintains the same quantity
    without re-scanning the band."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    spine = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", F.col("event_id").alias("spine_id")
    )
    e = ev.alias("e")
    s = spine.alias("s")
    j = s.join(
        e,
        (F.col("s.user_id") == F.col("e.user_id"))
        & (F.col("e.ts") <= F.col("s.ts"))
        & (F.col("e.ts") > F.col("s.ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    age_h = F.floor(
        (F.unix_micros(F.col("s.ts")) - F.unix_micros(F.col("e.ts")))
        / F.lit(3_600_000_000)
    ).cast("int")
    wtab = F.expr("array(" + ",".join(str(w) for w in _DECAY_MICRO) + ")")
    term = F.col("e.cents") * F.element_at(wtab, age_h + F.lit(1))
    return j.groupBy(
        F.col("s.user_id").alias("user_id"),
        _US(F.col("s.ts")).alias("ts_us"),
        F.col("s.spine_id").alias("spine_id"),
    ).agg(
        F.count(F.col("e.cents")).alias("n_events"),
        F.coalesce(F.sum(term), F.lit(0)).cast("long").alias("decayed_micro"),
    )


def q_f15b_decayed_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f15's decayed features through the BUCKETED band join
    (operators/band.py): the shuffle key is (user_id, floor(ts/7d))
    instead of user_id alone, so per-task work is bounded by two
    band-widths of one user's history — the skew/working-set fix for
    band joins at 100 TB (round-2 verdict item 4). Same semantics, same
    oracle as f15; plan-gated to join on the bucket key."""
    from .operators.band import band_join_bucketed

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("ets"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    spine = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", F.col("ets").alias("sts"), F.col("event_id").alias("spine_id")
    )
    j = band_join_bucketed(
        spine,
        ev.drop("event_id"),
        keys="user_id",
        spine_ts="sts",
        event_ts="ets",
        band_us=7 * 24 * 3_600_000_000,
        direction="backward",
    )
    age_h = F.floor(
        (F.unix_micros(F.col("sts")) - F.unix_micros(F.col("ets"))) / F.lit(3_600_000_000)
    ).cast("int")
    wtab = F.expr("array(" + ",".join(str(w) for w in _DECAY_MICRO) + ")")
    term = F.col("cents") * F.element_at(wtab, age_h + F.lit(1))
    return j.groupBy(
        "user_id",
        _US(F.col("sts")).alias("ts_us"),
        "spine_id",
    ).agg(
        F.count(F.col("cents")).alias("n_events"),
        F.coalesce(F.sum(term), F.lit(0)).cast("long").alias("decayed_micro"),
    )


def q_f16b_label_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f16's forward label window with NO JOIN AT ALL: the spine rows are
    a subset of events, so a value-based range frame over ts_us —
    rangeBetween(+1us, +7d] per user — computes every event's forward
    purchase count/sum in ONE shuffle + sort, then the spine filter keeps
    the label rows. Window-frame evaluation is incremental (the frame
    slides; rows are added/removed from running aggregates), so the cost
    is O(n log n) for the sort, NOT the band join's density² pair
    generation — this is the true scale-out for label windows whose
    aggregate is sum/count (f13's union trick, pointed forward). The
    decay-table variant (f15) cannot ride one frame — its weight depends
    on the spine-event age — which is why it gets the bucketed band join
    instead. Same semantics, same oracle as f16."""
    sev = 7 * 24 * 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).withColumn("ts_us", _US("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us").rangeBetween(1, sev)
    is_buy = (F.col("event_type") == "purchase").cast("long")
    n_buys = F.coalesce(F.sum(is_buy).over(w), F.lit(0))
    buy_cents = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents"))).over(w), F.lit(0)
    )
    out = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        n_buys.alias("n_future_purchases"),
        (n_buys > 0).alias("label_converted"),
        buy_cents.cast("long").alias("future_purchase_cents"),
    ).filter(F.col("event_id") % 10 == 0)
    return out.select(
        "user_id",
        "ts_us",
        F.col("event_id").alias("spine_id"),
        "n_future_purchases",
        "label_converted",
        "future_purchase_cents",
    )




def q_f8_version_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register v1 (full) + v2 (purchases only), then time-travel to v1.
    Oracle: v1 == the plain events projection."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("__row_id__")
    fs = FeatureStore(spark, storage_path=_scratch_dir("ver_store", sf_dir))
    fs.register("ev", feats)
    fs.register("ev", feats.filter(F.col("event_type") == "purchase"))
    v1 = fs.get_version("ev", 1)
    return v1.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "event_type",
        "value",
    )


# --------------------------------------------------------------------------- #
# Joins over the star schema
# --------------------------------------------------------------------------- #


def q_f6b_pit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT on a different domain: each customer's latest order strictly
    before 1998 (entity=o_custkey, ts=o_orderdate; ties broken by min
    orderkey via the __row_id__ convention)."""
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        # parquet ms-timestamps surface as TIMESTAMP_NTZ; cast to session-TZ
        # timestamp (UTC pinned, so values are unchanged)
        F.col("o_orderdate").cast("timestamp").alias("timestamp"),
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderkey").alias("__row_id__"),
    )
    out = temporal_filter(orders, "1997-12-31 23:59:59")
    out = latest_per_entity(out)
    return out.select(
        F.col("entity_id").alias("o_custkey"),
        _US("timestamp").alias("order_ts_us"),
        "o_orderkey",
        "o_totalprice",
    )


def q_f7c_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a bounded lookback (tolerance=48h): spine rows whose
    nearest feature is older than the window get dropped."""
    feats = events_features(spark, sf_dir)
    dates = spark.createDataFrame(
        [("2024-01-05",), ("2024-01-20",)], ["d"]
    ).select(F.col("d").cast("timestamp").alias("timestamp"))
    spine = feats.select("entity_id").distinct().crossJoin(dates)
    out = asof_join(
        spine, feats, strategy="union", keep_spine_ts=True,
        tolerance_seconds=48 * 3600,
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "value",
        _US("as_of_timestamp").alias("as_of_us"),
    )


def q_f34_view_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-level TTL — Feast ``FeatureView.ttl`` as a registration-time
    contract (store.py register(ttl_seconds=), round-8): the view
    registers with a 48h TTL and the training build passes NO tolerance
    — the registered default bounds the as-of lookback, so spine rows
    whose latest feature is older than the window drop out (f7c's
    per-call behavior lifted to the view; an explicit per-call
    tolerance still overrides, pytest-pinned). The TTL lives in the
    persisted registry beside the version store, so the bound follows
    the view into every process that opens it, and it doubles as
    ``get_online``'s freshness SLA. Plan: identical to f7c — the union
    as-of argmax plus one post-argmax filter; the TTL adds zero
    shuffles. Oracle: the PIT argmax with the 48h window applied
    post-argmax (the merge_asof tolerance shape)."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir)
    fs = FeatureStore(spark)
    fs.register("ev_ttl", feats, ttl_seconds=48 * 3600)
    dates = spark.createDataFrame(
        [("2024-01-05",), ("2024-01-20",)], ["d"]
    ).select(F.col("d").cast("timestamp").alias("timestamp"))
    spine = feats.select("entity_id").distinct().crossJoin(dates)
    out = fs.get_training_set("ev_ttl", spine)  # no tolerance: TTL applies
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "value",
    )


def q_f10_sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog bridge: register a feature table, expose it as a temp view,
    and answer with spark.sql — the SQL surface over the store."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("__row_id__")
    fs = FeatureStore(spark)
    fs.register("ev_sql", feats)
    fs.create_view("ev_sql")
    return fs.sql(
        """
        SELECT event_type, COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM ev_sql GROUP BY event_type
        """
    )


def q_x7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user (batch; the streaming variant
    uses session_window — see streaming/)."""
    ev = table(spark, sf_dir, "events").withColumn("ts_us", _US("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gapped = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > _30MIN_US, 1
        ).otherwise(F.when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0)),
    )
    sess = gapped.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_x7b_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session summary via the sessionize operator."""
    from .operators.sessionize import session_stats

    ev = table(spark, sf_dir, "events")
    return session_stats(ev, entity_col="user_id", ts_col="ts", gap_minutes=30)


def q_h1_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour/day/month continuous
    aggregates in ONE scan via GROUPING SETS over pre-truncated buckets
    (one expand + one shuffle; the streaming twin maintains the same
    rollup incrementally via foreachBatch)."""
    ev = table(spark, sf_dir, "events")
    bucketed = ev.select(
        _US(F.date_trunc("hour", "ts")).alias("hour_us"),
        _US(F.date_trunc("day", "ts")).alias("day_us"),
        _US(F.date_trunc("month", "ts")).alias("month_us"),
        "value",
    )
    return bucketed.groupingSets(
        [["hour_us"], ["day_us"], ["month_us"]], "hour_us", "day_us", "month_us"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_f11_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals from the append-only feature history:
    each row's value is valid [its ts, next ts) per entity — lead()
    over one window shuffle; open intervals closed with a sentinel.
    This is the batch view the PIT lookup implicitly queries."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sentinel = F.lit("9999-12-31").cast("timestamp")
    return ev.select(
        "user_id",
        "event_id",
        _US("ts").alias("valid_from_us"),
        _US(F.coalesce(F.lead("ts").over(w), sentinel)).alias("valid_to_us"),
        "value",
    )


def q_h2_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price: bucket = floor(x/5000) —
    a partial-agg'd groupBy over a codegen bucket expression; the
    building block of every profiling / data-quality sweep."""
    li = table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000).cast("long")
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
    )


def q_f9_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version CDC through the store API (store.diff_versions): v1 = the
    first two weeks of events, v2 = re-register through Jan 20 with
    purchase values doubled — so the diff has all three change types:
    later keys are added, and purchase keys inside the v1 window are
    changed. Output is the per-change-type rollup (keys + row counts);
    the oracle recomputes the same multiset classification with its own
    hashing, so the check is of the SEMANTICS (which keys changed),
    not of any engine-specific hash. On Delta this is Change Data Feed
    read from the commit log instead of recomputed."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("__row_id__").drop("event_id")
    v1 = feats.filter(F.col("timestamp") < "2024-01-15")
    v2 = feats.filter(F.col("timestamp") < "2024-01-20").withColumn(
        "value",
        F.when(F.col("event_type") == "purchase", F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    fs = FeatureStore(spark, storage_path=_scratch_dir("cdc_store", sf_dir))
    fs.register("ev_cdc", v1)
    fs.register("ev_cdc", v2)
    d = fs.diff_versions("ev_cdc", 1, 2)
    return d.groupBy("change_type").agg(
        F.count("*").alias("n_keys"),
        F.sum("old_rows").alias("old_rows"),
        F.sum("new_rows").alias("new_rows"),
    )


def q_f13_pit_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window features as-of spine timestamps (operators/
    features.py pit_window_agg): for every 10th event (the "label" rows),
    count/sum/min/max of that user's event values over the trailing 1
    day and 7 days — computed leakage-free with union + shared-sort
    range frames (ONE shuffle for both windows and all four aggregates;
    a join formulation would explode spine x window rows). Values in
    integer cents: sums are order-independent, so the LEFT-JOIN-based
    oracle matches exactly."""
    from .operators.features import pit_window_agg

    ev = table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    feats = ev.select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp"), "cents"
    )
    spine = ev.filter(F.col("event_id") % 10 == 0).select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").alias("spine_id"),
    )
    out = pit_window_agg(
        spine, feats, "cents", window_seconds=(86400, 7 * 86400)
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "spine_id",
        "n_86400s",
        F.col("sum_86400s").cast("long").alias("sum_86400s"),
        F.col("min_86400s").cast("long").alias("min_86400s"),
        F.col("max_86400s").cast("long").alias("max_86400s"),
        "n_604800s",
        F.col("sum_604800s").cast("long").alias("sum_604800s"),
    )


def q_h3_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance through the store API: register the
    first 1500 events, create a per-event-type rollup, append the rest,
    then refresh — the refresh aggregates ONLY the appended delta and
    merges mergeable state (count/sum/min/max; sums on integer cents so
    partial-sum order can't perturb doubles). The oracle aggregates the
    full event set directly: incremental == from-scratch."""
    from .store import FeatureStore

    feats = (
        events_features(spark, sf_dir)
        .withColumn(
            "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        )
        .drop("value")
    )
    base = feats.filter(F.col("event_id") < 1500)
    extra = feats.filter(F.col("event_id") >= 1500).drop("__row_id__")
    fs = FeatureStore(spark)
    fs.register("ev", base)
    fs.create_rollup("ev", "by_type", ["event_type"], ["value_cents"])
    fs.append("ev", extra)
    fs.refresh_rollup("by_type")
    return fs.get_rollup("by_type")


def q_f14_multi_view_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feast/Chronon-style training set over TWO feature views: for each
    spine (entity, ts) row pick up the latest event-view features AND the
    latest order-view features as-of that timestamp — two independent
    as-of joins (union strategy: one shuffle each, no row explosion)
    stitched on the spine key. The multi-feature-view generalization of
    the reference's single-table get_training_set (store.py:261-308);
    inner semantics per view, so only spine rows with BOTH views present
    survive (deterministic, oracle-expressible)."""
    feats = events_features(spark, sf_dir)
    spine = (
        feats.filter(F.col("event_type") == "purchase")
        .select("entity_id", "timestamp")
        .distinct()
    )
    ev_out = asof_join(spine, feats, strategy="union", keep_spine_ts=True)
    order_view = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").alias("timestamp"),
        "o_totalprice",
        F.col("o_orderkey").alias("__row_id__"),
    )
    ord_out = asof_join(spine, order_view, strategy="union", keep_spine_ts=True)
    left = ev_out.select(
        F.col("entity_id").alias("user_id"),
        _US("as_of_timestamp").alias("as_of_us"),
        "event_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        _US("timestamp").alias("event_ts_us"),
    )
    right = ord_out.select(
        F.col("entity_id").alias("user_id"),
        _US("as_of_timestamp").alias("as_of_us"),
        F.col("o_totalprice").alias("last_order_price"),
        _US("timestamp").alias("order_ts_us"),
    )
    return left.join(right, ["user_id", "as_of_us"], "inner")


def q_f26_snapshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table snapshot manifests (store.py SnapshotManifest — the
    multi-table generalization of the reference's single-table
    get_version time travel, reference store.py:377-401; Feast's
    saved-dataset registry pin): pin (table -> version) pairs for BOTH
    feature views at snapshot() time, then CORRUPT the current versions
    with intervening registers (ev values negated, half the orders
    dropped), and build the multi-view training set THROUGH the
    manifest. The result must be the v1 computation bit-for-bit — the
    oracle replays the v1 as-of joins on the raw tables, so any leak of
    the corrupted current versions through the pin flips the value hash.
    Storage is the Parquet backend: the manifest (and its retention
    exemption) is persisted JSON beside the version dirs."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir)
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").alias("timestamp"),
        "o_totalprice",
        F.col("o_orderkey").alias("__row_id__"),
    )
    fs = FeatureStore(spark, storage_path=_scratch_dir("snap_store", sf_dir))
    fs.register("ev", feats)
    fs.register("ord", orders)
    m = fs.snapshot(description="training-release")
    # intervening registers: tiny corrupted v2s — reading CURRENT instead
    # of the pin would collapse the training set to ~1 spine row (row-count
    # mismatch), so the pin is load-bearing at negligible register cost
    fs.register("ev", feats.limit(1).withColumn("value", -F.col("value")))
    fs.register("ord", orders.limit(1))
    spine = (
        feats.filter(F.col("event_type") == "purchase")
        .select("entity_id", "timestamp")
        .distinct()
    )
    out = fs.get_multi_view_training_set(["ev", "ord"], spine, manifest=m)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("as_of_us"),
        F.col("ev__event_id").alias("event_id"),
        F.col("ev__event_type").alias("last_event_type"),
        F.col("ev__value").alias("last_value"),
        _US("ev__timestamp").alias("event_ts_us"),
        F.col("ord__o_totalprice").alias("last_order_price"),
        _US("ord__timestamp").alias("order_ts_us"),
    )


def q_f27_multi_view_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-semantics multi-view training set (store.py
    get_multi_view_training_set how='left' — the Feast
    get_historical_features contract f14's inner variant drops): EVERY
    spine row survives; a view with no qualifying feature row as-of the
    spine timestamp contributes NULLs. The spine is every customer with
    a purchase event — users whose order view has no order before the
    spine ts are exactly the rows inner loses and left must keep
    null-padded; the per-view null counts in the output pin the padding
    arithmetic. Plan: one union-strategy LEFT as-of join per view (one
    shuffle each, no row explosion) stitched on the spine key."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir)
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("entity_id"),
        F.col("o_orderdate").cast("timestamp").alias("timestamp"),
        "o_totalprice",
        F.col("o_orderkey").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register("ev", feats)
    fs.register("ord", orders)
    spine = (
        feats.filter(F.col("event_type") == "purchase")
        .select("entity_id", "timestamp")
        .distinct()
    )
    out = fs.get_multi_view_training_set(["ev", "ord"], spine, how="left")
    return out.groupBy((F.col("entity_id") % 16).alias("bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ord__o_totalprice").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_no_order"),
        F.round(F.sum("ord__o_totalprice"), 2).alias("sum_order_price"),
        F.sum("ev__event_id").cast("long").alias("sum_event_id"),
    )


def q_f28_online_offline_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online/offline consistency audit — the skew check every production
    feature store ships (Feast calls it online/offline skew; the serving
    snapshot must equal what the training path would compute "as of
    now"). Two INDEPENDENT code paths compute latest-per-entity features:
    the serving lane (store.py materialize_online -> get_online, the
    compacted snapshot) and the training lane (get_training_set backward
    as-of join against the FULL history at a cutoff beyond all data).
    The witness full-outer joins the two row sets and counts per-column
    mismatches — a correct store reports zero, and the headline rollup
    is computed FROM THE ONLINE SIDE so the oracle's replay of the
    latest-per-entity semantics (reference store.py:516-530 idxmax) pins
    the snapshot content, not just the comparison. At 100 TB both lanes
    stay shaped: the snapshot is one map-side-combined argmax, the
    training lane is the union-strategy as-of join, and the audit join
    is |entities| vs |entities| on the entity key."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).withColumn(
        "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).drop("value")
    fs = FeatureStore(spark, storage_path=_scratch_dir("f28", sf_dir))
    fs.register("ev", feats)
    fs.materialize_online("ev")
    online = fs.get_online("ev").select(
        "entity_id",
        _US("timestamp").alias("ts_us"),
        "event_id",
        "event_type",
        "value_cents",
    )
    spine = (
        feats.select("entity_id")
        .distinct()
        .withColumn("timestamp", F.to_timestamp(F.lit("2030-01-01 00:00:00")))
    )
    offline = fs.get_training_set("ev", spine).select(
        "entity_id",
        _US("timestamp").alias("o_ts_us"),
        F.col("event_id").alias("o_event_id"),
        F.col("event_type").alias("o_event_type"),
        F.col("value_cents").alias("o_value_cents"),
    )
    cmp = online.join(offline, "entity_id", "full_outer")
    # null-safe (<=>) per column: a plain != yields NULL when either side
    # is NULL, which when(...).otherwise(0) would silently count as a
    # MATCH — exactly the wrong default for an audit. eqNullSafe treats
    # NULL==NULL as equal and NULL vs value as a mismatch; the isNull
    # terms still catch rows present on only one side.
    bad = (
        F.col("ts_us").isNull()
        | F.col("o_ts_us").isNull()
        | ~F.col("ts_us").eqNullSafe(F.col("o_ts_us"))
        | ~F.col("event_id").eqNullSafe(F.col("o_event_id"))
        | ~F.col("event_type").eqNullSafe(F.col("o_event_type"))
        | ~F.col("value_cents").eqNullSafe(F.col("o_value_cents"))
    )
    n_bad = cmp.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_mismatch")
    )
    return (
        online.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.sum("value_cents").cast("long").alias("sum_value_cents"),
            F.min("ts_us").cast("long").alias("min_ts_us"),
            F.max("ts_us").cast("long").alias("max_ts_us"),
        )
        .crossJoin(F.broadcast(n_bad))
    )


def q_f30_entity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-resolution merge applied to the store (store.py
    merge_entities — the post-ER step; er1 produces alias maps, this
    rewrites the history): every odd user id merges into its even
    predecessor as a NEW copy-on-write version, so PIT reads see one
    unified history per merged pair while time travel still reads the
    pre-merge identities. The witness aggregates the CURRENT (merged)
    version per entity bucket — entity count halves, row count does not
    — and pins copy-on-write by counting odd-entity rows still present
    in v1 (broadcast scalar). Plan: the merge is ONE broadcast alias
    join + coalesce over history (map-side; history read and written
    once); the rollup is an ordinary partial agg."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).withColumn(
        "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).drop("value")
    fs = FeatureStore(spark, storage_path=_scratch_dir("f30", sf_dir))
    fs.register("ev", feats)
    mapping = (
        feats.select("entity_id")
        .distinct()
        .filter(F.col("entity_id") % 2 == 1)
        .select(
            F.col("entity_id").alias("alias_id"),
            (F.col("entity_id") - 1).alias("canonical_id"),
        )
    )
    fs.merge_entities("ev", mapping)
    merged = fs.get_version("ev", 2)
    v1_odd = (
        fs.get_version("ev", 1)
        .filter(F.col("entity_id") % 2 == 1)
        .agg(F.count("*").cast("long").alias("v1_odd_rows"))
    )
    return (
        merged.groupBy((F.col("entity_id") % 16).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("entity_id").cast("long").alias("n_entities"),
            F.sum("value_cents").cast("long").alias("sum_value_cents"),
            F.max(_US("timestamp")).cast("long").alias("max_ts_us"),
        )
        .crossJoin(F.broadcast(v1_odd))
    )


def q_f31_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel (store.py get_version_asof — Delta's
    timestampAsOf next to f8's version-number travel): resolve "the
    table as it existed at wall-clock T" from the version records'
    created_at metadata. The witness registers v1, captures a wall-clock
    point, then CORRUPTS current with a 1-row v2 — the as-of read at the
    captured point must resolve v1 bit-for-bit (the oracle replays v1's
    aggregates from raw events), while the as-of read at 'now' sees the
    1-row v2 (pinned as a broadcast scalar). Resolution is
    metadata-only; the read is an ordinary version scan — same plan
    shape as f8."""
    from datetime import datetime, timezone

    from .store import FeatureStore

    feats = events_features(spark, sf_dir).withColumn(
        "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).drop("value")
    fs = FeatureStore(spark, storage_path=_scratch_dir("f31", sf_dir))
    fs.register("ev", feats)
    t_mid = datetime.now(timezone.utc)
    fs.register("ev", feats.limit(1))
    asof = fs.get_version_asof("ev", t_mid)
    latest_rows = (
        fs.get_version_asof("ev", datetime.now(timezone.utc))
        .agg(F.count("*").cast("long").alias("latest_rows"))
    )
    return (
        asof.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("value_cents").cast("long").alias("sum_value_cents"),
            F.min(_US("timestamp")).cast("long").alias("min_ts_us"),
            F.max(_US("timestamp")).cast("long").alias("max_ts_us"),
        )
        .crossJoin(F.broadcast(latest_rows))
    )


def q_f32_composite_key_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE entity keys end-to-end (store.py register(entity_cols=)
    + the composite-key section): a view keyed on (user_id, event_type)
    — the Feast multi-entity contract the reference's scalar entity_id
    cannot express (reference src/ml_feature_store/store.py:22-24) —
    registered from natural columns, then a training set against a
    (key x 2-date grid) spine through the public get_training_set API.

    Storage keys the history as ONE struct entity_id (struct equality
    drives the same union-strategy as-of join and argmax as f7 — no
    second code path), and the output expands back to natural columns.
    The oracle replays the PIT match per (user, event_type, cutoff) with
    rn=1 over ts DESC — deterministic because (user, type, us-ts) is
    unique in the testdata (checked at sf0.01/sf0.1). Scale shape:
    identical to f7 (one shuffle, no row explosion); the struct key adds
    zero width vs. the flat columns in parquet."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").alias("timestamp"),
        "event_id",
        "value",
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register("ev_um", ev, entity_cols=["user_id", "event_type"])
    keys = ev.select("user_id", "event_type").distinct()
    dates = spark.createDataFrame(
        [(dt.datetime(2024, 1, 10),), (dt.datetime(2024, 1, 20),)],
        "timestamp timestamp",
    )
    spine = keys.crossJoin(dates)
    out = fs.get_training_set("ev_um", spine)
    return out.select(
        "user_id",
        "event_type",
        _US("timestamp").alias("ts_us"),
        "event_id",
        F.round("value", 2).alias("value"),
    )


def q_odfv1_derived_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-demand (derived) feature view — the Feast ODFV shape
    (store.py create_derived_view / get_derived_training_set, round-7
    verdict item 6): purchase-value and click-value base views from
    events, a registered transformation (spend/click basis points,
    spend-click delta, absolute freshness gap) evaluated at training-set
    build time over the multi-view as-of columns. The transformation is
    declarative Spark SQL — pure Catalyst codegen riding the SAME job as
    the two as-of joins (zero extra shuffles, no UDF, nothing
    materialized) — and the oracle replays the two PIT argmaxes plus the
    identical integer expressions. Cross-engine note: the gap uses abs()
    before integer division because Spark DIV truncates toward zero
    while DuckDB // floors — identical only for non-negative operands.
    All-integer outputs, so no float jitter.

    Round-8: the build runs through a REOPENED store — views and the
    ODFV spec register in store A (Parquet backend), the training set
    builds from a FRESH FeatureStore over the same storage_path,
    witnessing the persisted ``_registry.json`` spec (Feast registry
    contract): the 3 a.m. training run is a new process."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    d = _scratch_dir("odfv1_store", sf_dir)
    writer = FeatureStore(spark, storage_path=d)
    writer.register("purch", ev.filter(F.col("event_type") == "purchase").drop("event_type"))
    writer.register("clicks", ev.filter(F.col("event_type") == "click").drop("event_type"))
    writer.create_derived_view(
        "odfv",
        sources=["purch", "clicks"],
        exprs={
            "spend_click_bp": "purch__value_cents * 10000 DIV clicks__value_cents",
            "spend_minus_click": "purch__value_cents - clicks__value_cents",
            "fresh_gap_s":
                "abs(unix_micros(purch__timestamp) "
                "- unix_micros(clicks__timestamp)) DIV 1000000",
        },
    )
    # a NEW process opens the same storage: the spec must resolve there
    fs = FeatureStore(spark, storage_path=d)
    users = ev.select("entity_id").distinct()
    spine = users.withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
    )
    out = fs.get_derived_training_set("odfv", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        F.col("spend_click_bp").cast("long").alias("spend_click_bp"),
        F.col("spend_minus_click").cast("long").alias("spend_minus_click"),
        F.col("fresh_gap_s").cast("long").alias("fresh_gap_s"),
    )


def q_odfv2_request_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request-data ODFV (Feast request source; store.py
    get_derived_training_set request-column lane): the spine carries a
    per-row request input — a budget known only at request time,
    synthesized deterministically as (user_id % 7 + 1) * 2000 cents —
    and the derived expressions combine it with the as-of purchase
    value. Cost over odfv1: ONE spine-sized equi stitch join of the
    request columns onto the as-of output (the multi-view build dedups
    its spine to the key, so payload can't ride through it); conflicting
    request values for one spine row are rejected, not averaged.
    All-integer outputs."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register(
        "purch2", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    fs.create_derived_view(
        "odfv_req",
        sources=["purch2"],
        exprs={
            "affordable": "budget_cents >= purch2__value_cents",
            "headroom_cents": "budget_cents - purch2__value_cents",
        },
    )
    spine = (
        ev.select("entity_id")
        .distinct()
        .withColumn(
            "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
        )
        .withColumn(
            "budget_cents",
            ((F.col("entity_id") % 7 + 1) * 2000).cast("long"),
        )
    )
    out = fs.get_derived_training_set("odfv_req", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "affordable",
        F.col("headroom_cents").cast("long").alias("headroom_cents"),
    )


def q_odfv3_online_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE ODFV serving (store.py get_online_derived — Feast's online
    ODFV execution): the same derived expressions that build training
    sets evaluated over the sources' materialized online snapshots, one
    row per entity — the transformation is defined once, so the serving
    read cannot skew from the training lane (the f28 parity story
    lifted to derived features; the pytest pins
    online == training-at-beyond-data-cutoff). Plan: two latest-per-user
    argmaxes at materialize time, then an |entities|-row equi join + a
    map-side projection at read time — serving never touches history.
    All-integer outputs."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register(
        "purch3", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    fs.register(
        "clicks3", ev.filter(F.col("event_type") == "click").drop("event_type")
    )
    fs.materialize_online("purch3")
    fs.materialize_online("clicks3")
    fs.create_derived_view(
        "odfv_online",
        sources=["purch3", "clicks3"],
        exprs={
            "spend_click_bp":
                "purch3__value_cents * 10000 DIV clicks3__value_cents",
            "spend_minus_click":
                "purch3__value_cents - clicks3__value_cents",
        },
    )
    out = fs.get_online_derived("odfv_online")
    return out.select(
        F.col("entity_id").alias("user_id"),
        F.col("spend_click_bp").cast("long").alias("spend_click_bp"),
        F.col("spend_minus_click").cast("long").alias("spend_minus_click"),
    )


def q_fsvc1_feature_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature service — Feast's named retrieval contract (store.py
    create_feature_service / get_service_training_set, round-7): a
    model's (view -> columns) bundle registered once with EAGER
    validation, then a training build by service name. The service
    selects value_cents from the purchase view and everything from the
    click view; the deselected purchase columns (event_id) are projected
    away BEFORE the as-of join, so they never enter the shuffle —
    plan-gated in tests/test_feature_services.py; at 100 TB selecting
    3 of 80 features shuffles 3. Oracle: the two PIT argmaxes with the
    service's projection.

    Round-8: the service registers in store A (Parquet backend) and the
    training set builds from a FRESH FeatureStore over the same
    storage_path — witnessing the persisted ``_registry.json`` service
    spec (the 'one stable name at 3 a.m.' contract survives the
    process)."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    d = _scratch_dir("fsvc1_store", sf_dir)
    writer = FeatureStore(spark, storage_path=d)
    writer.register(
        "psvc", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    writer.register(
        "csvc", ev.filter(F.col("event_type") == "click").drop("event_type")
    )
    writer.create_feature_service(
        "reward_model_v1", {"psvc": ["value_cents"], "csvc": None}
    )
    # reopen: the service name must resolve in a fresh store
    fs = FeatureStore(spark, storage_path=d)
    users = ev.select("entity_id").distinct()
    spine = users.withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
    )
    out = fs.get_service_training_set("reward_model_v1", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        F.col("psvc__value_cents").cast("long").alias("purch_cents"),
        F.col("csvc__value_cents").cast("long").alias("click_cents"),
        F.col("csvc__event_id").cast("long").alias("click_event_id"),
        _US("csvc__timestamp").alias("click_ts_us"),
    )


def q_fsvc2_online_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE feature-service read (store.py get_online_service — Feast's
    ``get_online_features`` by service name, round-8): the SAME named
    (view -> columns) bundle that builds training sets serves inference
    reads over the views' materialized online snapshots — one row per
    entity, columns prefixed exactly like the training lane, so the
    model's serving read cannot drift from its training contract (the
    f28/odfv3 parity story lifted to services). Plan: one
    latest-per-user argmax per view at materialize time; at read time
    one \\|entities\\|-row snapshot scan per view + a single equi join —
    serving never touches history. Oracle: two latest-per-user argmaxes
    with the service's projection, inner-joined on the key."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register(
        "psvc2", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    fs.register(
        "csvc2", ev.filter(F.col("event_type") == "click").drop("event_type")
    )
    fs.materialize_online("psvc2")
    fs.materialize_online("csvc2")
    fs.create_feature_service(
        "reward_model_online", {"psvc2": ["value_cents"], "csvc2": None}
    )
    out = fs.get_online_service("reward_model_online")
    return out.select(
        F.col("entity_id").alias("user_id"),
        F.col("psvc2__value_cents").cast("long").alias("purch_cents"),
        F.col("csvc2__value_cents").cast("long").alias("click_cents"),
        F.col("csvc2__event_id").cast("long").alias("click_event_id"),
        _US("csvc2__timestamp").alias("click_ts_us"),
    )


def q_fsvc3_service_with_odfv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature service BUNDLING a derived view (Feast services list
    ODFVs next to base views; store.py get_service_training_set
    derived-member lane, round-8): the service selects value_cents from
    the purchase view plus one derived column from a registered ODFV
    over (purchase, click). The derived view's sources join into the
    SAME multi-view build (deduped against the direct member — purchase
    is both, so its early projection is skipped to keep the exprs
    valid, while the OUTPUT still honors the selection), and the
    expressions evaluate map-side on top: one job, two as-of exchanges
    total, zero extra shuffles for the ODFV. Oracle: the two PIT
    argmaxes + the identical integer expression + the service
    projection."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register(
        "psvc3", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    fs.register(
        "csvc3", ev.filter(F.col("event_type") == "click").drop("event_type")
    )
    fs.create_derived_view(
        "rate3",
        sources=["psvc3", "csvc3"],
        exprs={
            "spend_click_bp":
                "psvc3__value_cents * 10000 DIV csvc3__value_cents",
            "spend_minus_click":
                "psvc3__value_cents - csvc3__value_cents",
        },
    )
    fs.create_feature_service(
        "reward_model_v2",
        {"psvc3": ["value_cents"], "rate3": ["spend_click_bp"]},
    )
    users = ev.select("entity_id").distinct()
    spine = users.withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
    )
    out = fs.get_service_training_set("reward_model_v2", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        F.col("psvc3__value_cents").cast("long").alias("purch_cents"),
        F.col("rate3__spend_click_bp").cast("long").alias("spend_click_bp"),
    )


def q_f35_incremental_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental online materialization (store.py
    materialize_online(incremental=True) — Feast's
    materialize_incremental, round-8): the purchase view materializes
    once on pre-01-15 history, the later events APPEND, and the refresh
    folds ONLY the delta into the existing snapshot —
    argmax(snapshot ∪ delta), O(\\|entities\\| + \\|delta\\|), history never
    rescanned (the rollup watermark pattern applied to the serving
    snapshot; the watermark persists in the registry so a fresh process
    keeps refreshing incrementally). Exactness rides the associative
    argmax + append's strictly-higher row ids — pytest pins
    incremental == full rebuild incl. timestamp ties. The oracle is the
    plain latest-per-user over the WHOLE feed: if the fold double-counted
    or missed delta rows, the hash breaks."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    ).filter(F.col("event_type") == "purchase").drop("event_type")
    cut = F.lit("2024-01-15").cast("timestamp")
    fs = FeatureStore(spark)
    fs.register("ev_inc", ev.filter(F.col("timestamp") < cut))
    fs.materialize_online("ev_inc")
    fs.append("ev_inc", ev.filter(F.col("timestamp") >= cut))
    fs.materialize_online("ev_inc", incremental=True)
    out = fs.get_online("ev_inc")
    return out.select(
        F.col("entity_id").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        _US("timestamp").alias("ts_us"),
        F.col("value_cents").cast("long").alias("value_cents"),
    )


def q_f36_vector_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding (array<float>) FEATURE columns through the store lane
    (round-8): vectors are first-class feature payloads — registered
    with history, refreshed via ``push()`` (Feast PushSource: one call
    lands the batch in offline history AND folds it incrementally into
    the online snapshot), and served latest-per-entity. Every vec_id
    registers its embedding at 01-01; ids divisible by 5 get a REFRESHED
    (negated) vector pushed at 02-01; the online read must serve the
    refreshed vector for exactly those ids — a stale or double-folded
    snapshot breaks the hash. The struct argmax carries the array
    payload untouched (no UDF; arrays ride Tungsten like any column).
    Output is emb1's int8 quantization, CSV-serialized (the driver
    cannot hash raw arrays), + the served version's timestamp.
    Oracle: the per-id effective (vector, ts) by the same %5 rule +
    the identical quantization algebra."""
    from .functions.vector import quantize_int8

    from .store import FeatureStore

    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("entity_id"),
        F.lit("2024-01-01").cast("timestamp").alias("timestamp"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
        F.col("vec_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register("vecs", emb)
    fs.materialize_online("vecs")
    refresh = emb.filter(F.col("entity_id") % 5 == 0).select(
        "entity_id",
        F.lit("2024-02-01").cast("timestamp").alias("timestamp"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
        "label",
        "__row_id__",
    )
    fs.push("vecs", refresh)  # offline append + incremental online fold
    out = fs.get_online("vecs")
    q = quantize_int8(F.col("embedding"))
    return out.select(
        F.col("entity_id").alias("vec_id"),
        "label",
        _US("timestamp").alias("ts_us"),
        F.array_join(q.cast("array<string>"), ",").alias("q"),
    )


def q_f37_export_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-store EXPORT (store.py export_online, round-9 — the
    BASELINE.md serving caveat made executable): Spark is not a
    millisecond KV store, so production serving exports the online
    snapshot and bulk-loads it into one. The lane wires the two halves
    the repo already had: the ``get_online`` latest-per-entity scan
    feeds the EXACTLY-ONCE two-phase Python sink (io18's
    JsonLinesSinkWriter: executor staging, driver commit promoting only
    task-committed files, atomic ``_SUCCESS`` manifest — a crashed
    export is invisible to a manifest-keyed loader; the abort/stray-file
    contract is pytest-pinned in tests/test_round9_store.py). The
    witness registers the events feed, materializes online, exports to
    jsonlines, reads the COMMITTED files back and rolls them up —
    including a digest over the ISO-serialized timestamps, so a
    serialization drift, lost task file, or double-promoted file breaks
    the hash. Oracle: the same rollup over the plain latest-per-user
    snapshot computed from the raw table.

    Scale: the export plan is the online-snapshot scan itself (no
    shuffle beyond the argmax that built the snapshot); the sink stages
    one file per task and commits O(#tasks) renames — the parquet
    committer's shape, at any entity count."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        "event_id",
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark)
    fs.register("ev_exp", ev)
    fs.materialize_online("ev_exp")
    d = _scratch_dir("f37_export", sf_dir) + "/out"
    fs.export_online("ev_exp", d, num_files=8)
    back = spark.read.schema(
        "entity_id long, timestamp string, event_type string, "
        "value_cents long, event_id long"
    ).json(d + "/part-*.jsonl")
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("value_cents").cast("long").alias("sum_cents"),
        F.sum(F.unix_micros(F.to_timestamp("timestamp")) % 1_000_003)
        .cast("long")
        .alias("ts_digest"),
        F.sum(F.col("entity_id") * (F.col("value_cents") % 997))
        .cast("long")
        .alias("key_digest"),
    )


def q_f38_saved_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved dataset (store.py create_saved_dataset — Feast's
    SavedDataset, round-9): a training set MATERIALIZED and registered
    by name with provenance (views + pinned versions + row count), the
    artifact a model card points at. The witness builds the training
    set over pre-01-15 purchases, saves it, then APPENDS later rows
    that would win the as-of argmax in any live rebuild — and retrieves
    the dataset through a REOPENED store (registry persistence, the
    odfv1 pattern). The oracle replays the build over ONLY the
    pre-cut subset: if the saved artifact leaked the mutation (re-ran
    the plan instead of scanning the materialization) or lost rows, the
    hash breaks. Retrieval is a plain scan — zero joins at any corpus
    size; the materialization costs the training-set plan + one sink
    pass (row count observed on the write, never recounted)."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("event_id"),
        F.col("event_id").alias("__row_id__"),
    ).filter(F.col("event_type") == "purchase").drop("event_type")
    cut = F.lit("2024-01-15").cast("timestamp")
    d = _scratch_dir("f38_saved_ds", sf_dir)
    writer = FeatureStore(spark, storage_path=d)
    writer.register("purch", ev.filter(F.col("timestamp") < cut))
    spine = (
        ev.filter(F.col("timestamp") < cut)
        .select("entity_id")
        .distinct()
        .withColumn(
            "timestamp", F.lit(dt.datetime(2024, 2, 1)).cast("timestamp")
        )
    )
    writer.create_saved_dataset("train_jan", "purch", spine)
    # post-save mutation: these rows would change a LIVE training set
    writer.append("purch", ev.filter(F.col("timestamp") >= cut))
    fs = FeatureStore(spark, storage_path=d)  # a new process retrieves
    out = fs.get_saved_dataset("train_jan")
    return out.select(
        F.col("entity_id").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        _US("timestamp").alias("ts_us"),
        F.col("value_cents").cast("long").alias("value_cents"),
    )


def q_f33_ingest_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data contract (store.py register(checks=) — the
    dbt-test/Great-Expectations gate applied where it can still refuse
    the write, round-7): events register under three contract checks
    (non-negative value, known event type, timestamp inside the
    generation window), all of which the testdata satisfies, and the
    contracted table then serves a PIT get — proving the gate passes
    clean data through untouched. The REFUSAL lane (violating batch ->
    named per-check counts, nothing published) is pytest-pinned
    (tests/test_store_core.py TestIngestDataContract) — a refusal has
    no result set for an oracle to hash. Contract cost: ONE aggregate
    pass over the batch (all checks fold into a single agg), regardless
    of check count."""
    import datetime as dt

    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("event_type")
    fs = FeatureStore(spark)
    fs.register(
        "ev_contract",
        feats,
        checks={
            "value_non_negative": "value >= 0",
            "event_id_present": "event_id IS NOT NULL",
            "ts_in_window": "timestamp >= TIMESTAMP '2023-12-31'"
                            " AND timestamp < TIMESTAMP '2024-03-01'",
        },
    )
    out = fs.get(
        "ev_contract", list(range(25)), dt.datetime(2024, 1, 22), columns=["value"]
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "value",
    )


def q_f29_training_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set freshness profile — the staleness audit every
    feature-store monitoring page shows (Feast 'feature freshness'): for
    each as-of matched training row, the age of the feature relative to
    the spine timestamp, rolled into capped age-day buckets. A drifting
    ingest pipeline shows up as mass migrating to the high buckets long
    before models degrade. The ages come from the SAME union-strategy
    as-of join f7 witnesses (keep_spine_ts=True exposes both
    timestamps), so the profile costs one extra map-side projection +
    one tiny-key partial agg over the training set; the oracle replays
    the as-of match (rn=1 over ts DESC) and the identical integer
    bucket math. The label event itself is EXCLUDED from the feature
    side (features = non-purchase activity, labels = purchases) — with
    it included every age is zero by the inclusive-cutoff self-match,
    and the profile measures nothing."""
    feats = events_features(spark, sf_dir)
    spine = feats.filter(F.col("event_type") == "purchase").select(
        "entity_id", "timestamp"
    )
    out = asof_join(
        spine,
        feats.filter(F.col("event_type") != "purchase"),
        strategy="union",
        keep_spine_ts=True,
    )
    age_us = _US("as_of_timestamp") - _US("timestamp")
    return (
        out.select(
            F.expr(
                f"least((unix_micros(as_of_timestamp) - unix_micros(timestamp))"
                f" div {86_400_000_000}, 7)"
            ).alias("age_days"),
            age_us.alias("age_us"),
        )
        .groupBy("age_days")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("age_us").cast("long").alias("sum_age_us"),
            F.max("age_us").cast("long").alias("max_age_us"),
        )
    )


def q_f18_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (operators/asof.py
    asof_join_nearest — pandas merge_asof direction='nearest' parity,
    property-tested against pandas itself): each purchase takes its
    user's closest event within ±6h, past preferred on distance ties.
    The sensor-alignment sibling of f7's backward join (F7 family). Plan:
    union both directions — ONE shuffle on the entity key, two
    in-partition sorts, no join, no row explosion (the 100 TB as-of
    recipe); the oracle replays it as a banded argmin with the same
    (distance, direction, row-id) tie chain."""
    from .operators.asof import asof_join_nearest

    ev = table(spark, sf_dir, "events")
    # features exclude the purchases themselves (a spine row matching its
    # own event at distance 0 would make the query a tautology)
    feats = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "value",
        F.col("event_id").alias("__row_id__"),
    )
    spine = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp")
    )
    out = asof_join_nearest(
        spine, feats, tolerance_seconds=6 * 3600, keep_spine_ts=True
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("feature_us"),
        "value",
        _US("as_of_timestamp").alias("spine_us"),
    )


def q_f20_scd2_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time DIMENSION join — the warehouse dual of f7's as-of:
    build the SCD2 validity intervals from each user's click history
    (f11's lead() view: value valid [ts, next ts)), then join every
    purchase to the dimension row VALID AT its event time via equi
    (user) + half-open band residual. Classic 'dimension as of event
    time'. Because an SCD2-interval join and a backward as-of join are
    the same semantics expressed two ways, rows here must equal an
    asof_join of purchases onto clicks — and the oracle checks interval
    containment directly, a different formulation again. Plan: interval
    dim built with one window shuffle; the fact join is equi on user_id
    with the band as residual — never a cross product."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sentinel = F.lit("9999-12-31").cast("timestamp")
    dim = clicks.select(
        F.col("user_id").alias("d_user"),
        F.col("ts").alias("valid_from"),
        F.coalesce(F.lead("ts").over(w), sentinel).alias("valid_to"),
        F.col("value").alias("dim_value"),
        F.col("event_id").alias("dim_event"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    j = buys.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("ts") < F.col("valid_to")),
    )
    return j.select(
        "user_id",
        F.col("event_id").alias("buy_id"),
        _US("ts").alias("buy_us"),
        "dim_event",
        "dim_value",
    )


def q_io8_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, driver-visible (store.py compact_version;
    pytest pins the API, this query pins the DATA contract): register the
    events feed fragmented into 16 files (micro-batch ingest shape),
    compact to 1, and report the invariants that make compaction safe to
    automate — row count and an order-independent content checksum, both
    IDENTICAL before and after, plus the file counts. The oracle computes
    the same rows/checksum straight from the source table, so a
    compaction that dropped or duplicated ANY row hash-mismatches. At
    100 TB this is the maintenance job that keeps scan parallelism
    governed by maxPartitionBytes instead of file count."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("__row_id__")
    fs = FeatureStore(
        spark, storage_path=_scratch_dir("io8_compact", sf_dir)
    )
    fs.register("ev", feats.repartition(16))
    rep = fs.compact_version("ev", target_files=1)
    after = fs.get_version("ev", 1)
    chk = after.agg(
        F.count("*").alias("rows"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(",", "entity_id", F.unix_micros("timestamp"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(1 << 31)
        ).alias("content_check"),
    )
    return chk.select(
        "rows",
        "content_check",
        F.lit(rep["files_after"]).cast("long").alias("files_after"),
        F.lit(rep["files_before"] > rep["files_after"]).alias("compacted"),
        (F.lit(rep["rows"]) == F.col("rows")).alias("rows_preserved"),
    )


def q_f22_upsert_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level correction through the public API (store.py upsert):
    register events as a feature table, then upsert a patch that
    replaces every (entity, ts) key of users < 20's purchases with a
    corrected row (event_type 'purchase_fixed', value + 1000 cents).
    Emits the ENTIRE corrected version, so the oracle — untouched rows
    as a NOT EXISTS key anti-filter UNION ALL the patch — catches a
    single dropped, duplicated or unreplaced row. Driver witness for the
    mutation trio the reference cannot express at all (its only write is
    whole-snapshot re-register, reference store.py:188-216). Plan: one
    key anti-join + union; the old version's files are re-referenced,
    never rewritten — the copy-on-write MERGE shape that holds at
    100 TB."""
    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark, storage_path=_scratch_dir("f22_upsert", sf_dir))
    fs.register("ev", feats)
    patch = (
        feats.filter((F.col("event_type") == "purchase") & (F.col("entity_id") < 20))
        .groupBy("entity_id", "timestamp")
        .agg(
            F.max("event_id").alias("event_id"),
            (F.max_by("value_cents", "event_id") + 1000).alias("value_cents"),
        )
        .select(
            "entity_id",
            "timestamp",
            "event_id",
            F.lit("purchase_fixed").alias("event_type"),
            "value_cents",
        )
    )
    fs.upsert("ev", patch)
    return fs.get_version("ev", 2).select(
        "entity_id",
        _US("timestamp").alias("ts_us"),
        "event_id",
        "event_type",
        "value_cents",
    )


def q_f23_expire_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level TTL through the public API (store.py expire_features):
    drop everything before Jan 20 as a NEW version, keeping the
    pre-expiry version time-travelable (copy-on-write — expiry is a
    recorded, auditable event, not a silent rewrite). Output: per-type
    row accounting of the post-TTL version plus the v1 row count, which
    pins BOTH sides — rows correctly dropped from v2 AND v1 left
    intact. The TTL predicate is get()'s pushdown-friendly temporal
    filter, so with date partitioning expired partitions prune at file
    listing."""
    import datetime as dt

    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark, storage_path=_scratch_dir("f23_expire", sf_dir))
    fs.register("ev", feats)
    fs.expire_features("ev", dt.datetime(2024, 1, 20))
    kept = fs.get_version("ev", 2)
    v1_rows = F.broadcast(
        fs.get_version("ev", 1).agg(F.count("*").alias("v1_rows"))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("value_cents").alias("sum_value_cents"),
            F.min(_US("timestamp")).alias("min_ts_us"),
        )
        .crossJoin(v1_rows)
    )


def q_f24_erase_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure through the public API (store.py erase_entities):
    build a 2-version table (even event_ids, then append the odd ones),
    erase users {3, 7, 11} from EVERY retained version in place (NOT
    copy-on-write — the point of erasure is that no time-travelable
    copy survives), and emit the audit: per version, rows_removed plus
    the post-erasure row count and an order-independent md5 content
    checksum. The oracle recomputes each version's surviving multiset
    straight from the source, so a row that survived erasure — or a
    non-matching row that got dropped — hash-mismatches. Scale shape:
    the IN-list anti-filter is a map-only predicate; only affected
    versions are rewritten."""
    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark, storage_path=_scratch_dir("f24_erase", sf_dir))
    fs.register("ev", feats.filter(F.col("event_id") % 2 == 0))
    fs.append("ev", feats.filter(F.col("event_id") % 2 == 1))
    removed = fs.erase_entities("ev", [3, 7, 11])
    chk = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ",", "entity_id", F.unix_micros("timestamp"), "event_id"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(1 << 31)
    )
    parts = []
    for v in (1, 2):
        parts.append(
            fs.get_version("ev", v).agg(
                F.lit(v).cast("long").alias("version"),
                F.lit(removed.get(("ev", v), 0)).cast("long").alias("rows_removed"),
                F.count("*").alias("n_rows"),
                F.sum(chk).alias("content_check"),
            )
        )
    return parts[0].unionByName(parts[1])


def q_f25_online_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online serving path, end to end through the public API
    (store.py materialize_online + get_online): compact the table to its
    latest-per-entity snapshot, then serve a 25-entity IN-list read from
    the snapshot — one row per entity, history never touched. The
    __row_id__ is pinned to event_id before register so the
    max-ts/min-row-id tie-break is oracle-replayable (row_number over
    ts DESC, event_id ASC). snapshot_rows carries materialize_online's
    row accounting (must equal the distinct-entity count). This is the
    BASELINE.md answer to Spark's ~0.6 s job floor on point reads: the
    serving read costs |entities|, flat in history length, and exports
    to a KV store unchanged."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).withColumn(
        "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).drop("value")
    fs = FeatureStore(spark, storage_path=_scratch_dir("f25_online", sf_dir))
    fs.register("ev", feats)
    n = fs.materialize_online("ev")
    out = fs.get_online("ev", list(range(25)))
    return out.select(
        "entity_id",
        _US("timestamp").alias("ts_us"),
        "event_id",
        "event_type",
        "value_cents",
        F.lit(n).cast("long").alias("snapshot_rows"),
    )


def q_online1_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-path read under the oracle: a 5-entity ``get_online``
    IN-list against the materialized latest-per-entity snapshot (store.py
    materialize_online + get_online; reference semantics = ``get`` at
    reference store.py:218-259 with the default as-of-now cutoff). One
    row per requested entity, read from the |entities|-sized snapshot —
    history is never touched, which is why the read's cost stays flat as
    history grows. __row_id__ is pinned
    to event_id pre-register so the max-ts/min-row-id tie-break is
    oracle-replayable (row_number over ts DESC, event_id ASC)."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).withColumn(
        "value_cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ).drop("value")
    fs = FeatureStore(spark, storage_path=_scratch_dir("online1", sf_dir))
    fs.register("ev", feats)
    fs.materialize_online("ev")
    out = fs.get_online("ev", [0, 1, 2, 3, 4])
    return out.select(
        "entity_id",
        _US("timestamp").alias("ts_us"),
        "event_id",
        "event_type",
        "value_cents",
    )


def q_f21_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py asof_join_forward — pandas
    merge_asof direction='forward' parity, property-tested against
    pandas): each view takes its user's NEXT purchase within 12 hours —
    one matched row per view with the exact time-to-convert, where a16's
    funnel only counts conversions. Completes merge_asof surface parity:
    f7 backward, f18 nearest, f21 forward. Same join-free single-shuffle
    union plan; the oracle replays it as a banded forward argmin."""
    from .operators.asof import asof_join_forward

    ev = table(spark, sf_dir, "events")
    feats = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "value",
        F.col("event_id").alias("__row_id__"),
    )
    spine = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp")
    )
    out = asof_join_forward(
        spine, feats, tolerance_seconds=12 * 3600, keep_spine_ts=True
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("as_of_timestamp").alias("view_us"),
        _US("timestamp").alias("buy_us"),
        "value",
        (F.unix_micros("timestamp") - F.unix_micros("as_of_timestamp")).alias(
            "time_to_convert_us"
        ),
    )


def q_f18b_asof_nearest_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f18 through the BANDED plan (operators/asof.py
    asof_join_nearest_banded): shuffle re-keyed on (user, floor(ts/6h))
    with the spine exploded to 3 tolerance buckets, per-spine argmin as
    a partial-agg min_by — the hot-entity treatment (f15b's recipe)
    applied to the nearest direction, where the union plan would
    serialize a hot user into one window task. Same oracle as f18: two
    different physical plans, one answer (the x9 independent-check
    recipe); equivalence also property-tested."""
    from .operators.asof import asof_join_nearest_banded

    ev = table(spark, sf_dir, "events")
    feats = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "value",
        F.col("event_id").alias("__row_id__"),
    )
    spine = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"), F.col("ts").alias("timestamp")
    )
    out = asof_join_nearest_banded(
        spine, feats, tolerance_seconds=6 * 3600, keep_spine_ts=True
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("feature_us"),
        "value",
        _US("as_of_timestamp").alias("spine_us"),
    )


















def q_drift1_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric feature-drift report (operators/drift.py psi_numeric —
    the monitoring surface the reference lacks, round-9): the events
    table is split at the integer midpoint of its time range into a
    REFERENCE window (training era) and a CURRENT window (serving era),
    and the PSI over ``value`` is computed on 10 equal-width bins
    anchored on the reference [min, max]. sum(psi_nano)/1e9 is the PSI —
    the standard retraining trigger. Plan: two partial-agg scans reduce
    to <= 10 rows each, then a full outer join of the tiny frames; the
    bin anchor and the time cut broadcast as 1-row scalars. At 100 TB
    nothing after the map-side combine exceeds O(bins) rows per task.
    Fractions/terms are pinned as integer ppm / nano units (both engines
    do the identical double arithmetic on the same anchored edges)."""
    from .operators.drift import psi_numeric

    ev = table(spark, sf_dir, "events").select("ts", "value")
    bounds = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("cut")
    )
    tagged = ev.crossJoin(F.broadcast(bounds))
    ref = tagged.filter(_US("ts") < F.col("cut")).select("value")
    cur = tagged.filter(_US("ts") >= F.col("cut")).select("value")
    rep = psi_numeric(ref, cur, "value", n_bins=10)
    return rep.select(
        "bucket",
        F.floor(F.col("ref_frac") * 1e6 + F.lit(0.5)).cast("long").alias("ref_ppm"),
        F.floor(F.col("cur_frac") * 1e6 + F.lit(0.5)).cast("long").alias("cur_ppm"),
        F.floor(F.col("psi_term") * 1e9 + F.lit(0.5)).cast("long").alias("psi_nano"),
    )


def q_drift2_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift report (operators/drift.py categorical_drift):
    event_type frequency mix, reference window vs current window (same
    integer-midpoint time split as drift1). One row per category with
    both fractions and the L1 term; total-variation distance =
    sum(l1_ppm)/2e6 — the alert threshold a serving monitor pages on.
    Two partial-agg scans to O(categories) rows + a tiny full outer
    join; the 100 TB cost is the two scans, nothing else."""
    from .operators.drift import categorical_drift

    ev = table(spark, sf_dir, "events").select("ts", "event_type")
    bounds = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("cut")
    )
    tagged = ev.crossJoin(F.broadcast(bounds))
    ref = tagged.filter(_US("ts") < F.col("cut")).select("event_type")
    cur = tagged.filter(_US("ts") >= F.col("cut")).select("event_type")
    rep = categorical_drift(ref, cur, "event_type")
    return rep.select(
        "category",
        F.floor(F.col("ref_frac") * 1e6 + F.lit(0.5)).cast("long").alias("ref_ppm"),
        F.floor(F.col("cur_frac") * 1e6 + F.lit(0.5)).cast("long").alias("cur_ppm"),
        F.floor(F.col("l1_term") * 1e6 + F.lit(0.5)).cast("long").alias("l1_ppm"),
    )


def q_f39_embargo_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training set with a label EMBARGO (store.py get_training_set
    embargo_seconds, round-9): features must be at least 24 h older than
    the spine timestamp — the leakage guard for labels that only settle
    after the event (chargebacks, returns, delayed ground truth). The
    spine is every purchase event; the store refuses any feature from
    the final 24 h before each label even though it temporally precedes
    it. Implemented as a map-side spine-timestamp shift feeding the
    union-strategy as-of join — zero shuffles beyond the plain as-of
    build, so the 100 TB cost is identical to f7. The oracle replays
    the shifted-cutoff argmax (f.ts <= s.ts - 24 h) row for row."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir).drop("event_type")
    fs = FeatureStore(spark)
    fs.register("ev_embargo", feats)
    spine = (
        events_features(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("entity_id", "timestamp")
        .distinct()
    )
    out = fs.get_training_set(
        "ev_embargo", spine, embargo_seconds=24 * 3600
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        "event_id",
        _US("timestamp").alias("ts_us"),
        "value",
    )


def q_f40_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-WIDENING append (store.py append(allow_new_columns=True),
    round-9 — Feast/Tecton feature-view evolution): the table is
    registered from the early half of events WITHOUT event_type, then
    the late half appends WITH it; the new version null-backfills
    history via a typed-NULL projection over re-referenced files (no
    rewrite — at 100 TB adding a feature column to a year of history is
    a metadata-cost operation), while version 1 keeps its narrower
    schema for time travel (pytest-pinned, with the missing-column and
    un-flagged-widening refusal lanes). The oracle replays the union:
    early rows carry NULL event_type, late rows their real one — a
    leaked backfill value or a dropped early row breaks the hash."""
    from .store import FeatureStore

    feats = events_features(spark, sf_dir)
    mid = F.lit("2024-01-16").cast("timestamp")
    base = feats.filter(F.col("timestamp") < mid).drop("event_type")
    late = feats.filter(F.col("timestamp") >= mid)
    fs = FeatureStore(spark, storage_path=_scratch_dir("widen_store", sf_dir))
    fs.register("ev_widen", base)
    fs.append("ev_widen", late, allow_new_columns=True)
    cur = fs.get_version("ev_widen", 2)
    return cur.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("sum_cents"),
        F.countDistinct("entity_id").cast("long").alias("n_users"),
    )


def q_h4_tiered_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED-RETENTION rollup (TimescaleDB continuous-aggregate +
    retention-policy pattern, round-9): recent history stays raw, older
    history lives only at coarser grain — age < 7 d raw events, 7-14 d
    hourly sums, >= 14 d daily sums (ages anchored on the corpus max
    timestamp, an integer scalar broadcast). Each tier is a partial-agg
    scan over ITS time slice (the filters are disjoint and pushable),
    unioned into one artifact; at 100 TB this is how a year of events
    stays queryable at bounded size — the raw tier is a rolling week,
    the tail collapses ~86400x. Output: per (tier, day) bucket counts +
    row counts + exact cents, which pin every bucket boundary."""
    ev = table(spark, sf_dir, "events").select(
        "ts", "event_id", "value"
    )
    bounds = ev.agg(F.max(_US("ts")).alias("maxus"))
    t = ev.crossJoin(F.broadcast(bounds)).withColumn("us", _US("ts"))
    day = 86_400_000_000
    hour = 3_600_000_000
    c7 = F.col("maxus") - F.lit(7 * day)
    c14 = F.col("maxus") - F.lit(14 * day)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    raw = t.filter(F.col("us") >= c7).select(
        F.lit("raw").alias("tier"), F.col("us").alias("bucket_us"), cents.alias("cents")
    )
    hourly = t.filter((F.col("us") < c7) & (F.col("us") >= c14)).select(
        F.lit("hourly").alias("tier"),
        (F.floor(F.col("us") / F.lit(hour)) * F.lit(hour)).cast("long").alias("bucket_us"),
        cents.alias("cents"),
    )
    daily = t.filter(F.col("us") < c14).select(
        F.lit("daily").alias("tier"),
        (F.floor(F.col("us") / F.lit(day)) * F.lit(day)).cast("long").alias("bucket_us"),
        cents.alias("cents"),
    )
    tiers = raw.unionByName(hourly).unionByName(daily)
    rolled = tiers.groupBy("tier", "bucket_us").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    return rolled.groupBy(
        "tier",
        (F.floor(F.col("bucket_us") / F.lit(day)) * F.lit(day))
        .cast("long")
        .alias("day_us"),
    ).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
    )


def q_f41_output_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service output mapping — Feast's ``field_mapping`` at the
    retrieval boundary (store.py create_feature_service
    ``output_mapping=``, round-9): the service renames its prefixed
    output columns to the names the MODEL was trained with
    (``psvc__value_cents`` -> ``purchase_amount_cents``, ...), validated
    eagerly at registration (unknown source / duplicate target /
    collision with an unmapped output all refuse) and applied as the
    FINAL map-side projection in BOTH the training and online lanes —
    one rename definition, so feature names cannot skew between train
    and serve. Registered in one store instance and built through a
    REOPENED store (the mapping persists in ``_registry.json`` with the
    rest of the service spec). Plan cost: zero — a rename is a
    projection over the fsvc1 build, nothing else moves."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    d = _scratch_dir("f41_store", sf_dir)
    writer = FeatureStore(spark, storage_path=d)
    writer.register(
        "pmap", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    writer.register(
        "cmap", ev.filter(F.col("event_type") == "click").drop("event_type")
    )
    writer.create_feature_service(
        "reward_model_v2",
        {"pmap": ["value_cents"], "cmap": ["value_cents", "event_id"]},
        output_mapping={
            "pmap__value_cents": "purchase_amount_cents",
            "cmap__value_cents": "click_value_cents",
            "cmap__event_id": "last_click_id",
        },
    )
    fs = FeatureStore(spark, storage_path=d)  # mapping survives reopen
    users = ev.select("entity_id").distinct()
    spine = users.withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
    )
    out = fs.get_service_training_set("reward_model_v2", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        F.col("purchase_amount_cents").cast("long"),
        F.col("click_value_cents").cast("long"),
        F.col("last_click_id").cast("long"),
    )


def q_f42_window_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-aggregate feature view — Tecton's declarative
    ``aggregations=`` surface (store.py create_window_view /
    get_window_training_set, round-9): "7-day cents sum, 7-day event
    count, 30-day cents max AS OF each spine time" registered ONCE by
    name, then evaluated against a (user x 2-date grid) spine through a
    REOPENED store (the spec persists in the registry). Plan: spine and
    source union, ONE entity-key shuffle, all three aggregates as RANGE
    frames over the shared sort — no as-of argmax, no per-window
    history scan; at 100 TB adding a 4th aggregation costs zero extra
    exchanges. Oracle: correlated trailing-window algebra (inclusive
    cutoff both ends) per grid date."""
    import datetime as dt

    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    d = _scratch_dir("f42_store", sf_dir)
    writer = FeatureStore(spark, storage_path=d)
    writer.register("wv_events", feats)
    writer.create_window_view(
        "user_activity_7d",
        "wv_events",
        [
            {"column": "value_cents", "function": "sum",
             "window_seconds": 7 * 86400, "alias": "cents_sum_7d"},
            {"column": "value_cents", "function": "count",
             "window_seconds": 7 * 86400, "alias": "n_events_7d"},
            {"column": "value_cents", "function": "max",
             "window_seconds": 30 * 86400, "alias": "cents_max_30d"},
        ],
    )
    fs = FeatureStore(spark, storage_path=d)  # spec survives reopen
    users = feats.select("entity_id").distinct()
    dates = spark.createDataFrame(
        [(dt.datetime(2024, 1, 10),), (dt.datetime(2024, 1, 24),)],
        ["timestamp"],
    )
    spine = users.crossJoin(dates)
    out = fs.get_window_training_set("user_activity_7d", spine)
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        F.col("cents_sum_7d").cast("long"),
        F.col("n_events_7d").cast("long"),
        F.col("cents_max_30d").cast("long"),
    )


def q_f44_serving_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature LOGGING (store.py log_service_read — Feast's
    LoggingConfig / Tecton feature logging, round-9): every online
    service read appends the rows the model actually saw to a
    serving-log table IN the store, keyed by the caller's logical time
    (never wall clock — the log must replay). Two logged reads — a
    10-user canary at t1, the full population at t2 — accumulate as two
    versions of ``<service>__serving_log``; because the log is itself a
    versioned feature table, this lane reads it back through the
    ordinary catalog view and rolls it up per logical time. The oracle
    recomputes both serves from the raw feed (latest-per-user argmax,
    the online-snapshot semantic) and unions them — a logged value that
    differs from what serving returned, a lost row, or a
    wall-clock-stamped record breaks the hash."""
    import datetime as dt

    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    fs = FeatureStore(spark, storage_path=_scratch_dir("f44_store", sf_dir))
    fs.register(
        "plog", ev.filter(F.col("event_type") == "purchase").drop("event_type")
    )
    fs.materialize_online("plog")
    fs.create_feature_service("scored_model", {"plog": ["value_cents"]})
    fs.log_service_read(
        "scored_model",
        list(range(10)),
        logical_time=dt.datetime(2024, 2, 1, 3, 0),
    )
    fs.log_service_read(
        "scored_model", logical_time=dt.datetime(2024, 2, 1, 9, 0)
    )
    log = fs.create_view("scored_model__serving_log")
    return spark.sql(
        f"""
        SELECT unix_micros(timestamp) AS served_at_us,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(plog__value_cents) AS BIGINT) AS sum_cents,
               CAST(SUM(entity_id) AS BIGINT) AS sum_users
        FROM {log} GROUP BY timestamp
        """
    )


def q_dq14_version_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version column profiling (store.py profile_versions
    — the dbt-style "data diff" CI gate, round-9): v1 registers the
    early half of the feed, v2 appends the late half with an INJECTED
    null regression (value_cents nulled on event_id % 11) and a NEW
    column through the f40 widening path — the profile must surface
    both: v2's value_cents null rate jumps from zero, and `score`
    reads 100% null in v1 (the version predates the column). ONE
    aggregation pass over the version-tagged union however many
    versions (O(versions) rows after the map-side combine), then an
    O(versions x columns) unpivot. The oracle replays the split + null
    rule straight from the source."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
    )
    mid = F.lit("2024-01-16").cast("timestamp")
    fs = FeatureStore(spark, storage_path=_scratch_dir("dq14_store", sf_dir))
    fs.register("pv_events", ev.filter(F.col("timestamp") < mid))
    late = (
        ev.filter(F.col("timestamp") >= mid)
        .withColumn(
            "value_cents",
            F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
                F.col("value_cents")
            ),
        )
        .withColumn("score", (F.col("event_id") % 5).cast("long"))
    )
    fs.append("pv_events", late, allow_new_columns=True)
    return fs.profile_versions(
        "pv_events", ["value_cents", "event_type", "score"]
    ).select(
        F.col("version").cast("long"),
        "column",
        "n_rows",
        "n_nulls",
        "null_ppm",
    )


def q_f45_join_key_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-time entity-key aliasing (store.py get_training_set
    ``join_key_map=`` — Feast's join_key_map, round-9): a spine whose
    key column is named in the CALLER's vocabulary (``driver``) builds
    a training set against a view keyed ``entity_id`` — the spine is
    renamed to the view's key for the build and renamed BACK in the
    output, so neither side gives up its naming. Eager refusals:
    unknown spine column, non-key target, rename collision. Zero plan
    cost (a map-side rename on each end). Oracle: the f7-grid argmax
    with the output keyed ``driver``."""
    import datetime as dt

    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark)
    fs.register("jkm_events", feats)
    spine = (
        feats.select(F.col("entity_id").alias("driver"))
        .distinct()
        .withColumn(
            "timestamp", F.lit(dt.datetime(2024, 1, 15)).cast("timestamp")
        )
    )
    out = fs.get_training_set(
        "jkm_events", spine, join_key_map={"driver": "entity_id"}
    )
    return out.select(
        F.col("driver").cast("long"),
        _US("timestamp").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long"),
    )


def q_dq15_fk_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential ingest contract (store.py register ``references=`` —
    dbt's relationships test at publish, round-9): a user-dimension
    table registers first; the fact register declares
    ``user_ref -> users_dim.entity_id`` and publishes only because
    every non-NULL FK resolves (NULLs pass, SQL semantics — one
    injected NULL proves it). A second register with CORRUPTED keys
    (offset past the dimension) must REFUSE naming the FK and the
    orphan count — asserted in-lane, the f33 refusal pattern. All FKs
    probe in ONE job (chained distinct left joins + one aggregate).
    Result: the PIT replay over the published fact."""
    import datetime as dt

    from .errors import FeatureValidationError
    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark)
    dim = feats.select("entity_id").distinct().withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    )
    fs.register("users_dim", dim)
    fact = feats.withColumn(
        "user_ref",
        F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
            F.col("entity_id")
        ),
    )
    fs.register(
        "fk_events", fact, references={"user_ref": ("users_dim", "entity_id")}
    )
    bad = fact.withColumn("user_ref", F.col("user_ref") + F.lit(10_000_000))
    try:
        fs.register(
            "fk_events_bad",
            bad,
            references={"user_ref": ("users_dim", "entity_id")},
        )
        raise AssertionError("corrupted FK register must refuse")
    except FeatureValidationError as e:
        assert "orphan" in str(e)
    out = fs.get("fk_events", list(range(25)), dt.datetime(2024, 1, 20))
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long"),
        F.col("user_ref").cast("long"),
    )


def q_dq16_unique_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness ingest contract (store.py register ``unique=`` —
    dbt's primary-key test at publish, round-9): the fact registers
    with a declared (entity, timestamp, event_id) key and publishes
    because the feed is duplicate-free; a register of the feed UNIONED
    WITH ITSELF must refuse naming the key and the exact duplicate-row
    count (asserted in-lane, the f33/dq15 refusal pattern). The gate is
    ONE aggregate — count(*) minus count(distinct struct(key)) — a
    single partial-agg job, the data itself never re-shuffles. Result:
    the PIT replay over the published version."""
    import datetime as dt

    from .errors import FeatureValidationError
    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir)
    fs = FeatureStore(spark)
    fs.register(
        "uq_events", feats, unique=["entity_id", "timestamp", "event_id"]
    )
    doubled = feats.unionAll(feats)
    try:
        fs.register(
            "uq_events_bad",
            doubled,
            unique=["entity_id", "timestamp", "event_id"],
        )
        raise AssertionError("doubled input must refuse the unique contract")
    except FeatureValidationError as e:
        assert "duplicate" in str(e)
    out = fs.get("uq_events", list(range(25)), dt.datetime(2024, 1, 20))
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long"),
    )


def q_f46_compare_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion/challenger service comparison (store.py
    compare_services — the shadow-deployment audit, round-9): the
    challenger's pipeline drops every 7th event and loses users >= 140
    entirely, so the report must count exactly the users whose
    latest-purchase feature CHANGES under the drop (value skew), the
    users only the champion serves (coverage skew), and the agreeing
    rest. Both services map their view-prefixed outputs to one shared
    name (f41's output_mapping composing), null-safe equality, one
    full-outer join of two |entities|-row snapshots + one aggregate.
    Oracle: both argmaxes replayed from the feed and diffed in SQL."""
    from .store import FeatureStore

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.col("user_id").alias("entity_id"),
        F.col("ts").alias("timestamp"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
        F.col("event_id").alias("__row_id__"),
    )
    pch = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    fs = FeatureStore(spark)
    fs.register("champ_v", pch)
    fs.register(
        "chall_v",
        pch.filter(F.col("event_id") % 7 != 0).filter(
            F.col("entity_id") < 140
        ),
    )
    fs.materialize_online("champ_v")
    fs.materialize_online("chall_v")
    fs.create_feature_service(
        "champ",
        {"champ_v": ["value_cents"]},
        output_mapping={"champ_v__value_cents": "spend_cents"},
    )
    fs.create_feature_service(
        "chall",
        {"chall_v": ["value_cents"]},
        output_mapping={"chall_v__value_cents": "spend_cents"},
    )
    return fs.compare_services("champ", "chall").select(
        "column", "n_match", "n_diff", "n_only_champion", "n_only_challenger"
    )


def q_h5_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT(DISTINCT) via mergeable HLL sketch rollup state
    (store.py create_rollup ``distinct_cols=``, round-9): exact distinct
    counts cannot fold across increments (yesterday's and today's users
    overlap), so the rollup state carries a per-group HLL sketch that
    unions associatively — refresh stays O(delta) for distincts exactly
    as it is for sums. h3's lane with the distinct dimension: register
    the early half, roll up (count + cents sum + user sketch), append,
    refresh. The a10 oracle contract: estimates are engine-specific, so
    emit the EXACT distinct (recomputed from the source — the
    cross-engine proof) plus two booleans the Spark side must earn:
    estimate within 10% of exact, and merged-sketch estimate EQUAL to a
    single-pass sketch over the whole feed (union-merge associativity,
    the property that makes the state incremental)."""
    from .store import FeatureStore

    feats = (
        events_features(spark, sf_dir)
        .withColumn(
            "value_cents",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .drop("value")
    )
    base = feats.filter(F.col("event_id") < 1500)
    extra = feats.filter(F.col("event_id") >= 1500).drop("__row_id__")
    fs = FeatureStore(spark)
    fs.register("ev5", base)
    fs.create_rollup(
        "ev5", "by_type5", ["event_type"], ["value_cents"], ["entity_id"]
    )
    fs.append("ev5", extra)
    fs.refresh_rollup("by_type5")
    state = fs.get_rollup("by_type5").select(
        "event_type",
        "n_rows",
        F.col("sum_value_cents").cast("long").alias("sum_cents"),
        F.hll_sketch_estimate("hll_entity_id").alias("est"),
    )
    single = feats.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("entity_id")).alias("sp_est"),
        F.countDistinct("entity_id").cast("long").alias("exact_users"),
    )
    return state.join(single, "event_type").select(
        "event_type",
        "n_rows",
        "sum_cents",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.1 * F.col("exact_users")
        ).alias("within_tolerance"),
        (F.col("est") == F.col("sp_est")).alias("merge_exact"),
    )


def q_f47_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL training set (store.py get_training_set
    ``knowledge_time=`` — row-level late-arriving-data correctness,
    round-9): each feature row carries BOTH its event time and its
    ingest time (here: event ts + a deterministic 0-4 day pipeline
    delay); the build as-of joins on EVENT time but admits only rows
    INGESTED by the knowledge time — so "rebuild last Tuesday's
    training set" reproduces what the pipeline actually knew, excluding
    late arrivals whose event timestamps would otherwise qualify. The
    chosen knowledge time (2024-01-20) makes the two cutoffs bite
    differently per row: events late in the window with short delays
    survive, earlier events with 3-4 day delays do not. One more
    pushed scan predicate, zero extra shuffles (the f7 plan
    unchanged). Oracle: the argmax with BOTH time predicates."""
    import datetime as dt

    from .store import FeatureStore

    feats = _cents_features(spark, sf_dir).withColumn(
        "ingest_ts",
        F.col("timestamp")
        + F.make_dt_interval(days=F.pmod(F.col("event_id"), F.lit(5))),
    )
    fs = FeatureStore(spark)
    fs.register("bt_events", feats)
    users = feats.select("entity_id").distinct()
    spine = users.withColumn(
        "timestamp", F.lit(dt.datetime(2024, 1, 18)).cast("timestamp")
    )
    out = fs.get_training_set(
        "bt_events",
        spine,
        knowledge_time=dt.datetime(2024, 1, 20),
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _US("timestamp").alias("ts_us"),
        "event_id",
        F.col("value_cents").cast("long"),
        _US("ingest_ts").alias("ingest_us"),
    )


QUERIES = {
    'f47_bitemporal': q_f47_bitemporal,
    'h5_rollup_distinct': q_h5_rollup_distinct,
    'f46_compare_services': q_f46_compare_services,
    'dq16_unique_contract': q_dq16_unique_contract,
    'f45_join_key_map': q_f45_join_key_map,
    'dq15_fk_contract': q_dq15_fk_contract,
    'dq14_version_profile': q_dq14_version_profile,
    'f44_serving_log': q_f44_serving_log,
    'f42_window_view': q_f42_window_view,
    'f41_output_mapping': q_f41_output_mapping,
    'h4_tiered_retention': q_h4_tiered_retention,
    'f40_schema_widening': q_f40_schema_widening,
    'drift1_psi_value': q_drift1_psi_value,
    'drift2_event_mix': q_drift2_event_mix,
    'f39_embargo_training_set': q_f39_embargo_training_set,
    'f9_diff_versions': q_f9_diff_versions,
    'f1_register_pit_get': q_f1_register_pit_get,
    'f2_temporal_filter': q_f2_temporal_filter,
    'f3_entity_filter': q_f3_entity_filter,
    'f4_latest_per_entity': q_f4_latest_per_entity,
    'f6_pit_lookup': q_f6_pit_lookup,
    'f6b_pit_orders': q_f6b_pit_orders,
    'f7_asof_join': q_f7_asof_join,
    'f7_asof_join_grid': q_f7_asof_join_grid,
    'f7c_asof_tolerance': q_f7c_asof_tolerance,
    'f34_view_ttl': q_f34_view_ttl,
    'f8_version_travel': q_f8_version_travel,
    'f10_sql_over_views': q_f10_sql_over_views,
    'h1_time_rollup': q_h1_time_rollup,
    'x7_sessionize': q_x7_sessionize,
    'x7b_session_stats': q_x7b_session_stats,
    'f11_scd2_intervals': q_f11_scd2_intervals,
    'h2_value_histogram': q_h2_value_histogram,
    'h3_incremental_rollup': q_h3_incremental_rollup,
    'f13_pit_window_agg': q_f13_pit_window_agg,
    'f14_multi_view_training_set': q_f14_multi_view_training_set,
    'f26_snapshot_manifest': q_f26_snapshot_manifest,
    'f27_multi_view_left': q_f27_multi_view_left,
    'f28_online_offline_consistency': q_f28_online_offline_consistency,
    'f29_training_freshness': q_f29_training_freshness,
    'f30_entity_merge': q_f30_entity_merge,
    'f31_timestamp_travel': q_f31_timestamp_travel,
    'f32_composite_key_training_set': q_f32_composite_key_training_set,
    'odfv1_derived_view': q_odfv1_derived_view,
    'odfv2_request_data': q_odfv2_request_data,
    'odfv3_online_derived': q_odfv3_online_derived,
    'fsvc1_feature_service': q_fsvc1_feature_service,
    'fsvc2_online_service': q_fsvc2_online_service,
    'f35_incremental_online': q_f35_incremental_online,
    'fsvc3_service_with_odfv': q_fsvc3_service_with_odfv,
    'f36_vector_features': q_f36_vector_features,
    'f37_export_online': q_f37_export_online,
    'f38_saved_dataset': q_f38_saved_dataset,
    'f33_ingest_contract': q_f33_ingest_contract,
    'f7e_asof_left': q_f7e_asof_left,
    'f15_decayed_features': q_f15_decayed_features,
    'f15b_decayed_bucketed': q_f15b_decayed_bucketed,
    'f18_asof_nearest': q_f18_asof_nearest,
    'f20_scd2_dim_join': q_f20_scd2_dim_join,
    'io8_compaction': q_io8_compaction,
    'f22_upsert_patch': q_f22_upsert_patch,
    'f23_expire_ttl': q_f23_expire_ttl,
    'f24_erase_audit': q_f24_erase_audit,
    'f25_online_snapshot': q_f25_online_snapshot,
    'online1_point_read': q_online1_point_read,
    'f21_asof_forward': q_f21_asof_forward,
    'f18b_asof_nearest_banded': q_f18b_asof_nearest_banded,
    'f16_label_window': q_f16_label_window,
    'f16b_label_window_frames': q_f16b_label_window_frames,
}

ORACLE_SQL: dict[str, str] = {
    "f9_diff_versions": f"""
        WITH base AS (
            SELECT user_id AS entity_id, ts, event_type, value FROM ({_EV})
        ),
        v1 AS (SELECT * FROM base WHERE ts < TIMESTAMP '2024-01-15'),
        v2 AS (
            SELECT entity_id, ts, event_type,
                   CASE WHEN event_type = 'purchase' THEN value * 2
                        ELSE value END AS value
            FROM base WHERE ts < TIMESTAMP '2024-01-20'
        ),
        o AS (
            SELECT entity_id, ts,
                   md5(array_to_string(list_sort(list(event_type || chr(1) || value::VARCHAR)), ',')) AS kh,
                   COUNT(*) AS kn
            FROM v1 GROUP BY 1, 2
        ),
        n AS (
            SELECT entity_id, ts,
                   md5(array_to_string(list_sort(list(event_type || chr(1) || value::VARCHAR)), ',')) AS kh,
                   COUNT(*) AS kn
            FROM v2 GROUP BY 1, 2
        ),
        d AS (
            SELECT CASE WHEN o.kh IS NULL THEN 'added'
                        WHEN n.kh IS NULL THEN 'removed'
                        ELSE 'changed' END AS change_type,
                   COALESCE(o.kn, 0) AS orw, COALESCE(n.kn, 0) AS nrw
            FROM o FULL OUTER JOIN n USING (entity_id, ts)
            WHERE o.kh IS NULL OR n.kh IS NULL OR o.kh <> n.kh
        )
        SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(orw) AS BIGINT) AS old_rows,
               CAST(SUM(nrw) AS BIGINT) AS new_rows
        FROM d GROUP BY 1
    """,
    "f1_register_pit_get": f"""
        SELECT user_id, epoch_us(ts) AS ts_us, value FROM (
            SELECT user_id, ts, value, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
            FROM ({_EV})
            WHERE ts <= TIMESTAMP '2024-01-25 00:00:00' AND user_id < 20
        ) WHERE rn = 1
    """,
    "f2_temporal_filter": f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        FROM ({_EV}) WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
    """,
    "f3_entity_filter": f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        FROM ({_EV}) WHERE user_id IN (1,3,5,7,11)
    """,
    "f4_latest_per_entity": f"""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
            FROM ({_EV})
        ) WHERE rn = 1
    """,
    "f6_pit_lookup": f"""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
            FROM ({_EV})
            WHERE ts <= TIMESTAMP '2024-01-20 00:00:00' AND user_id BETWEEN 0 AND 9
        ) WHERE rn = 1
    """,
    "f7_asof_join": f"""
        WITH f AS ({_EV}),
        s AS (SELECT user_id, ts AS sts FROM f WHERE event_type = 'purchase')
        SELECT user_id, event_id, ts_us, event_type, value, as_of_us FROM (
            SELECT s.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.event_type,
                   f.value, epoch_us(s.sts) AS as_of_us,
                   row_number() OVER (PARTITION BY s.user_id, s.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM s JOIN f ON s.user_id = f.user_id AND f.ts <= s.sts
        ) WHERE rn = 1
    """,
    "f7e_asof_left": f"""
        WITH f AS ({_EV}),
        g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-02'),
                                    (TIMESTAMP '2024-01-15')) AS t(sts)),
        s AS (SELECT DISTINCT user_id FROM f),
        spine AS (SELECT s.user_id, g.sts FROM s CROSS JOIN g)
        SELECT user_id, event_id, ts_us, value, as_of_us FROM (
            SELECT spine.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.value,
                   epoch_us(spine.sts) AS as_of_us,
                   row_number() OVER (PARTITION BY spine.user_id, spine.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM spine LEFT JOIN f
              ON spine.user_id = f.user_id AND f.ts <= spine.sts
        ) WHERE rn = 1
    """,
    "f7_asof_join_grid": f"""
        WITH f AS ({_EV}),
        g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-08'),
                                    (TIMESTAMP '2024-01-15'),
                                    (TIMESTAMP '2024-01-22')) AS t(sts)),
        s AS (SELECT DISTINCT user_id FROM f),
        spine AS (SELECT s.user_id, g.sts FROM s CROSS JOIN g)
        SELECT user_id, event_id, ts_us, value, as_of_us FROM (
            SELECT spine.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.value,
                   epoch_us(spine.sts) AS as_of_us,
                   row_number() OVER (PARTITION BY spine.user_id, spine.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM spine JOIN f ON spine.user_id = f.user_id AND f.ts <= spine.sts
        ) WHERE rn = 1
    """,
    "f6b_pit_orders": """
        SELECT o_custkey, order_ts_us, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS order_ts_us,
                   o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
            FROM orders
            WHERE CAST(o_orderdate AS TIMESTAMP) <= TIMESTAMP '1997-12-31 23:59:59'
        ) WHERE rn = 1
    """,
    "f7c_asof_tolerance": f"""
        WITH f AS ({_EV}),
        g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-05'),
                                    (TIMESTAMP '2024-01-20')) AS t(sts)),
        spine AS (SELECT user_id, sts FROM (SELECT DISTINCT user_id FROM f) CROSS JOIN g)
        SELECT user_id, event_id, ts_us, value, as_of_us FROM (
            SELECT spine.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.value,
                   epoch_us(spine.sts) AS as_of_us, f.ts, spine.sts,
                   row_number() OVER (PARTITION BY spine.user_id, spine.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM spine JOIN f ON spine.user_id = f.user_id AND f.ts <= spine.sts
        ) WHERE rn = 1 AND ts >= sts - INTERVAL 48 HOURS
    """,
    "f34_view_ttl": f"""
        WITH f AS ({_EV}),
        g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-05'),
                                    (TIMESTAMP '2024-01-20')) AS t(sts)),
        spine AS (SELECT user_id, sts FROM (SELECT DISTINCT user_id FROM f) CROSS JOIN g)
        SELECT user_id, event_id, ts_us, value FROM (
            SELECT spine.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.value,
                   f.ts, spine.sts,
                   row_number() OVER (PARTITION BY spine.user_id, spine.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM spine JOIN f ON spine.user_id = f.user_id AND f.ts <= spine.sts
        ) WHERE rn = 1 AND ts >= sts - INTERVAL 48 HOURS
    """,
    "f10_sql_over_views": """
        SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY event_type
    """,
    "f8_version_travel": f"""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
        FROM ({_EV})
    """,
    "x7_sessionize": f"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM ({_EV})),
        l AS (SELECT user_id, ts_us,
                     CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                          WHEN ts_us - lag(ts_us) OVER w > {_30MIN_US} THEN 1
                          ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        s AS (SELECT user_id,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                         ROWS UNBOUNDED PRECEDING) AS session_id
              FROM l)
        SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id
    """,
    "x7b_session_stats": f"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, ts FROM ({_EV})),
        l AS (SELECT user_id, ts_us,
                     CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                          WHEN ts_us - lag(ts_us) OVER w > {_30MIN_US} THEN 1
                          ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        s AS (SELECT user_id, ts_us,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                         ROWS UNBOUNDED PRECEDING) AS session_id
              FROM l),
        per_sess AS (
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   (MAX(ts_us) - MIN(ts_us)) / 1000000.0 AS duration_s
            FROM s GROUP BY user_id, session_id)
        SELECT user_id, COUNT(*) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               ROUND(AVG(n_events), 4) AS avg_events_per_session,
               ROUND(AVG(duration_s), 4) AS avg_duration_s
        FROM per_sess GROUP BY user_id
    """,
    "h1_time_rollup": f"""
        SELECT hour_us, day_us, month_us,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        FROM (SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
                     epoch_us(date_trunc('day', ts)) AS day_us,
                     epoch_us(date_trunc('month', ts)) AS month_us,
                     value
              FROM ({_EV}))
        GROUP BY GROUPING SETS ((hour_us), (day_us), (month_us))
    """,
    "f11_scd2_intervals": f"""
        SELECT user_id, event_id, epoch_us(ts) AS valid_from_us,
               epoch_us(COALESCE(lead(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id),
                        TIMESTAMP '9999-12-31')) AS valid_to_us,
               value
        FROM ({_EV}) WHERE user_id < 50
    """,
    "h2_value_histogram": """
        SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               ROUND(AVG(l_discount), 6) AS avg_discount
        FROM lineitem GROUP BY 1
    """,
    # trailing-window PIT features: LEFT JOIN over the 7d band, CASE for
    # the nested 1d window; integer-cent sums are order-independent
    "f13_pit_window_agg": f"""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM ({_EV})
        ),
        s AS (SELECT user_id, ts, event_id AS spine_id FROM ev
              WHERE event_id % 10 = 0)
        SELECT s.user_id, epoch_us(s.ts) AS ts_us, s.spine_id,
               CAST(COUNT(CASE WHEN e.ts > s.ts - INTERVAL 1 DAY THEN e.cents END)
                    AS BIGINT) AS n_86400s,
               CAST(COALESCE(SUM(CASE WHEN e.ts > s.ts - INTERVAL 1 DAY
                                      THEN e.cents END), 0) AS BIGINT) AS sum_86400s,
               CAST(MIN(CASE WHEN e.ts > s.ts - INTERVAL 1 DAY THEN e.cents END)
                    AS BIGINT) AS min_86400s,
               CAST(MAX(CASE WHEN e.ts > s.ts - INTERVAL 1 DAY THEN e.cents END)
                    AS BIGINT) AS max_86400s,
               CAST(COUNT(e.cents) AS BIGINT) AS n_604800s,
               CAST(COALESCE(SUM(e.cents), 0) AS BIGINT) AS sum_604800s
        FROM s LEFT JOIN ev e
          ON e.user_id = s.user_id
         AND e.ts > s.ts - INTERVAL 7 DAY
         AND e.ts <= s.ts
        GROUP BY s.user_id, s.ts, s.spine_id
    """,
    "f15_decayed_features": _F15_SQL,
    "f16_label_window": f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM ({_EV})
        ),
        s AS (SELECT user_id, ts, event_id AS spine_id FROM ev
              WHERE event_id % 10 = 0)
        SELECT s.user_id, epoch_us(s.ts) AS ts_us, s.spine_id,
               CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_future_purchases,
               COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                 THEN 1 ELSE 0 END), 0) > 0 AS label_converted,
               CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                      THEN e.cents END), 0) AS BIGINT)
                   AS future_purchase_cents
        FROM s LEFT JOIN ev e
          ON e.user_id = s.user_id
         AND e.ts > s.ts
         AND e.ts <= s.ts + INTERVAL 7 DAY
        GROUP BY s.user_id, s.ts, s.spine_id
    """,
    # incremental rollup == from-scratch aggregate over the full fact
    "h3_incremental_rollup": f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents,
               CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS min_value_cents,
               CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS max_value_cents
        FROM ({_EV}) GROUP BY event_type
    """,

}


# Same semantics as their parent queries, different physical plans (the
# bucketed band join / the join-free range-frame window) — the oracle is
# identical; what differs is plan-gated in tests/test_plans.py.
ORACLE_SQL["f15b_decayed_bucketed"] = _F15_SQL
ORACLE_SQL["f16b_label_window_frames"] = ORACLE_SQL["f16_label_window"]


ORACLE_SQL["f14_multi_view_training_set"] = f"""
    WITH f AS ({_EV}),
    s AS (SELECT DISTINCT user_id, ts AS sts FROM f
          WHERE event_type = 'purchase'),
    ev AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts, f.event_id,
                   f.event_type AS last_event_type, f.value AS last_value,
                   epoch_us(f.ts) AS event_ts_us,
                   row_number() OVER (PARTITION BY s.user_id, s.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM s JOIN f ON s.user_id = f.user_id AND f.ts <= s.sts
        ) WHERE rn = 1
    ),
    o AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts,
                   ord.o_totalprice AS last_order_price,
                   epoch_us(CAST(ord.o_orderdate AS TIMESTAMP)) AS order_ts_us,
                   row_number() OVER (
                       PARTITION BY s.user_id, s.sts
                       ORDER BY CAST(ord.o_orderdate AS TIMESTAMP) DESC,
                                ord.o_orderkey ASC) AS rn
            FROM s JOIN orders ord
              ON s.user_id = ord.o_custkey
             AND CAST(ord.o_orderdate AS TIMESTAMP) <= s.sts
        ) WHERE rn = 1
    )
    SELECT ev.user_id, epoch_us(ev.sts) AS as_of_us, ev.event_id,
           ev.last_event_type, ev.last_value, ev.event_ts_us,
           o.last_order_price, o.order_ts_us
    FROM ev JOIN o ON ev.user_id = o.user_id AND ev.sts = o.sts
"""

# f26: the oracle replays the PINNED (v1) computation on the raw tables —
# identical as-of math to f14; the Spark side must surface v1 through the
# manifest even though both current versions were corrupted after the pin.
# Different spine output (spine ts, not per-view), same tie-break contract
# (ts DESC, row-id ASC == event_id / o_orderkey ASC).
ORACLE_SQL["f26_snapshot_manifest"] = f"""
    WITH f AS ({_EV}),
    s AS (SELECT DISTINCT user_id, ts AS sts FROM f
          WHERE event_type = 'purchase'),
    ev AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts, f.event_id,
                   f.event_type AS last_event_type, f.value AS last_value,
                   epoch_us(f.ts) AS event_ts_us,
                   row_number() OVER (PARTITION BY s.user_id, s.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM s JOIN f ON s.user_id = f.user_id AND f.ts <= s.sts
        ) WHERE rn = 1
    ),
    o AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts,
                   ord.o_totalprice AS last_order_price,
                   epoch_us(CAST(ord.o_orderdate AS TIMESTAMP)) AS order_ts_us,
                   row_number() OVER (
                       PARTITION BY s.user_id, s.sts
                       ORDER BY CAST(ord.o_orderdate AS TIMESTAMP) DESC,
                                ord.o_orderkey ASC) AS rn
            FROM s JOIN orders ord
              ON s.user_id = ord.o_custkey
             AND CAST(ord.o_orderdate AS TIMESTAMP) <= s.sts
        ) WHERE rn = 1
    )
    SELECT ev.user_id, epoch_us(ev.sts) AS as_of_us, ev.event_id,
           ev.last_event_type, ev.last_value, ev.event_ts_us,
           o.last_order_price, o.order_ts_us
    FROM ev JOIN o ON ev.user_id = o.user_id AND ev.sts = o.sts
"""

# f27: left multi-view — the order view's LEFT JOIN keeps unmatched spine
# rows as one all-NULL candidate (rn = 1 over the single null row), the
# exact null-padding the Spark side's how='left' as-of join produces.
ORACLE_SQL["f27_multi_view_left"] = f"""
    WITH f AS ({_EV}),
    s AS (SELECT DISTINCT user_id, ts AS sts FROM f
          WHERE event_type = 'purchase'),
    ev AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts, f.event_id,
                   f.event_type AS last_event_type,
                   row_number() OVER (PARTITION BY s.user_id, s.sts
                                      ORDER BY f.ts DESC, f.event_id ASC) AS rn
            FROM s JOIN f ON s.user_id = f.user_id AND f.ts <= s.sts
        ) WHERE rn = 1
    ),
    o AS (
        SELECT * FROM (
            SELECT s.user_id, s.sts, ord.o_totalprice,
                   row_number() OVER (
                       PARTITION BY s.user_id, s.sts
                       ORDER BY CAST(ord.o_orderdate AS TIMESTAMP) DESC,
                                ord.o_orderkey ASC) AS rn
            FROM s LEFT JOIN orders ord
              ON s.user_id = ord.o_custkey
             AND CAST(ord.o_orderdate AS TIMESTAMP) <= s.sts
        ) WHERE rn = 1
    )
    SELECT ev.user_id % 16 AS bucket, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o.o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_no_order,
           ROUND(SUM(o.o_totalprice), 2) AS sum_order_price,
           CAST(SUM(ev.event_id) AS BIGINT) AS sum_event_id
    FROM ev JOIN o ON ev.user_id = o.user_id AND ev.sts = o.sts
    GROUP BY ev.user_id % 16
"""

# f32: PIT match per (user_id, event_type, grid cutoff) — the composite
# key replays as a two-column partition; rn=1 over ts DESC is
# deterministic ((user, type, us-ts) unique in the testdata).
ORACLE_SQL["f32_composite_key_training_set"] = f"""
    WITH f AS ({_EV}),
    g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-10'),
                                (TIMESTAMP '2024-01-20')) AS t(sts)),
    k AS (SELECT DISTINCT user_id, event_type FROM f),
    spine AS (SELECT k.user_id, k.event_type, g.sts FROM k CROSS JOIN g)
    SELECT user_id, event_type, ts_us, event_id, value FROM (
        SELECT spine.user_id, spine.event_type,
               epoch_us(f.ts) AS ts_us, f.event_id,
               ROUND(f.value, 2) AS value,
               row_number() OVER (
                   PARTITION BY spine.user_id, spine.event_type, spine.sts
                   ORDER BY f.ts DESC, f.event_id ASC) AS rn
        FROM spine JOIN f
          ON spine.user_id = f.user_id
         AND spine.event_type = f.event_type
         AND f.ts <= spine.sts
    ) WHERE rn = 1
"""

# odfv1: two PIT argmaxes (purchase / click value as-of the grid date)
# joined per user, then the derived expressions replayed with integer
# semantics; // == DIV here because every operand is non-negative.
ORACLE_SQL["odfv1_derived_view"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, ts, value_cents FROM (
            SELECT user_id, ts, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1),
    c AS (SELECT user_id, ts, value_cents FROM (
            SELECT user_id, ts, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1)
    SELECT p.user_id,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us,
           CAST(p.value_cents * 10000 // c.value_cents AS BIGINT)
               AS spend_click_bp,
           CAST(p.value_cents - c.value_cents AS BIGINT)
               AS spend_minus_click,
           CAST(abs(epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
               AS fresh_gap_s
    FROM p JOIN c ON p.user_id = c.user_id
"""

# odfv2: the purchase PIT argmax + the deterministic request-budget
# synthesis + identical integer expressions (headroom can be negative,
# but it's subtraction, not division — no floor/trunc divergence).
ORACLE_SQL["odfv2_request_data"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1)
    SELECT p.user_id,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us,
           (p.user_id % 7 + 1) * 2000 >= p.value_cents AS affordable,
           CAST((p.user_id % 7 + 1) * 2000 - p.value_cents AS BIGINT)
               AS headroom_cents
    FROM p
"""

# odfv3: latest-per-user of each event-type lane over the WHOLE feed
# (online = no cutoff), inner join, identical integer expressions.
ORACLE_SQL["odfv3_online_derived"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase') WHERE rn = 1),
    c AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click') WHERE rn = 1)
    SELECT p.user_id,
           CAST(p.value_cents * 10000 // c.value_cents AS BIGINT)
               AS spend_click_bp,
           CAST(p.value_cents - c.value_cents AS BIGINT)
               AS spend_minus_click
    FROM p JOIN c ON p.user_id = c.user_id
"""

# fsvc3: service bundling an ODFV — two PIT argmaxes at the grid date,
# the derived integer expression, and the service projection.
ORACLE_SQL["fsvc3_service_with_odfv"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1),
    c AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1)
    SELECT p.user_id,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us,
           CAST(p.value_cents AS BIGINT) AS purch_cents,
           CAST(p.value_cents * 10000 // c.value_cents AS BIGINT)
               AS spend_click_bp
    FROM p JOIN c ON p.user_id = c.user_id
"""

# f36: served vector = negated@02-01 for vec_id % 5 == 0, original@01-01
# otherwise; emb1's exact int8 quantization algebra on the effective
# vector.
ORACLE_SQL["f36_vector_features"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings
    ),
    eff AS (
        SELECT vec_id, label,
               CASE WHEN vec_id % 5 = 0
                    THEN list_transform(v, x -> -x) ELSE v END AS v,
               CASE WHEN vec_id % 5 = 0
                    THEN TIMESTAMP '2024-02-01'
                    ELSE TIMESTAMP '2024-01-01' END AS ts
        FROM e
    ),
    m AS (
        SELECT vec_id, label, ts, v,
               list_max(list_transform(v, x -> abs(x))) AS mx
        FROM eff
    )
    SELECT vec_id, label, epoch_us(ts) AS ts_us,
           array_to_string(
               list_transform(
                   CASE WHEN mx = 0
                        THEN list_transform(v, x -> CAST(0 AS TINYINT))
                        ELSE list_transform(v,
                             x -> CAST(floor(x * 127.0 / mx + 0.5) AS TINYINT))
                   END,
                   x -> CAST(x AS VARCHAR)), ',') AS q
    FROM m
"""

# f35: incremental online fold == plain latest-per-user over the whole
# purchase feed (ties broken by min event_id; base/delta cannot tie
# across the 01-15 cut because base ts < cut <= delta ts).
ORACLE_SQL["f35_incremental_online"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events WHERE event_type = 'purchase')
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
           epoch_us(ts) AS ts_us, value_cents
    FROM (
        SELECT user_id, event_id, ts, value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM f
    ) WHERE rn = 1
"""

# f37: the exported jsonlines fileset rolls up to the plain
# latest-per-user snapshot (ties by min event_id — export serializes
# the online view, which argmaxes ts DESC, __row_id__=event_id ASC).
# ts_digest replays the ISO round-trip as plain epoch micros.
ORACLE_SQL["f37_export_online"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    s AS (SELECT user_id, event_type, value_cents, event_id, ts FROM (
            SELECT user_id, event_type, value_cents, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f) WHERE rn = 1)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           CAST(SUM(epoch_us(ts) % 1000003) AS BIGINT) AS ts_digest,
           CAST(SUM(user_id * (value_cents % 997)) AS BIGINT) AS key_digest
    FROM s GROUP BY event_type
"""

# f38: the saved dataset must equal the training set AS OF THE SAVE —
# latest-per-user over ONLY the pre-cut purchases (the 02-01 as_of is
# vacuous there); the post-save append must not leak in.
ORACLE_SQL["f38_saved_dataset"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events
               WHERE event_type = 'purchase'
                 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15')
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
           epoch_us(ts) AS ts_us, value_cents
    FROM (
        SELECT user_id, event_id, ts, value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM f
    ) WHERE rn = 1
"""

# fsvc2: the ONLINE service read — two latest-per-user argmaxes (no
# cutoff: the online snapshot is latest-over-all-history) with the
# service's projection, inner-joined on the key.
ORACLE_SQL["fsvc2_online_service"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase') WHERE rn = 1),
    c AS (SELECT user_id, value_cents, event_id, ts FROM (
            SELECT user_id, value_cents, event_id, ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click') WHERE rn = 1)
    SELECT p.user_id,
           CAST(p.value_cents AS BIGINT) AS purch_cents,
           CAST(c.value_cents AS BIGINT) AS click_cents,
           CAST(c.event_id AS BIGINT) AS click_event_id,
           epoch_us(c.ts) AS click_ts_us
    FROM p JOIN c ON p.user_id = c.user_id
"""

# fsvc1: two PIT argmaxes at the grid date with the service's projection
# (purchase contributes only value_cents; click contributes everything).
ORACLE_SQL["fsvc1_feature_service"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1),
    c AS (SELECT user_id, ts, event_id, value_cents FROM (
            SELECT user_id, ts, event_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1)
    SELECT p.user_id,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us,
           p.value_cents AS purch_cents,
           c.value_cents AS click_cents,
           c.event_id AS click_event_id,
           epoch_us(c.ts) AS click_ts_us
    FROM p JOIN c ON p.user_id = c.user_id
"""

# f33: the contract passes (testdata satisfies all three checks), so the
# published table serves the ordinary PIT replay for users 0-24.
ORACLE_SQL["f33_ingest_contract"] = f"""
    SELECT user_id, epoch_us(ts) AS ts_us, value FROM (
        SELECT user_id, ts, value, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
        FROM ({_EV})
        WHERE ts <= TIMESTAMP '2024-01-22 00:00:00' AND user_id < 25
    ) WHERE rn = 1
"""

# f31: the as-of read at the captured wall-clock point must be v1 verbatim
# (raw-events replay); the corrupted 1-row v2 is pinned via latest_rows.
ORACLE_SQL["f31_timestamp_travel"] = f"""
    WITH feats AS ({_FEATS_CENTS})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           CAST(1 AS BIGINT) AS latest_rows
    FROM feats
    GROUP BY event_type
"""

# f30: the merge rewrite replays as a CASE over user parity; buckets key on
# the CANONICAL id; v1_odd_rows replays as the raw odd-row count (the
# copy-on-write proof — a destructive merge would zero it).
ORACLE_SQL["f30_entity_merge"] = f"""
    WITH feats AS ({_FEATS_CENTS}),
    merged AS (
        SELECT CASE WHEN entity_id % 2 = 1 THEN entity_id - 1
                    ELSE entity_id END AS entity_id,
               ts, value_cents
        FROM feats
    )
    SELECT entity_id % 16 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT entity_id) AS BIGINT) AS n_entities,
           CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM feats
            WHERE entity_id % 2 = 1) AS v1_odd_rows
    FROM merged
    GROUP BY entity_id % 16
"""

# f29: replay of f7's as-of match plus identical integer age-bucket math.
ORACLE_SQL["f29_training_freshness"] = f"""
    WITH f AS ({_EV}),
    s AS (SELECT user_id, ts AS sts FROM f WHERE event_type = 'purchase'),
    nf AS (SELECT * FROM f WHERE event_type <> 'purchase'),
    matched AS (
        SELECT user_id, sts, ts FROM (
            SELECT s.user_id, s.sts, nf.ts,
                   row_number() OVER (PARTITION BY s.user_id, s.sts
                                      ORDER BY nf.ts DESC, nf.event_id ASC)
                       AS rn
            FROM s JOIN nf ON s.user_id = nf.user_id AND nf.ts <= s.sts
        ) WHERE rn = 1
    ),
    aged AS (
        SELECT LEAST((epoch_us(sts) - epoch_us(ts)) // 86400000000, 7)
                   AS age_days,
               epoch_us(sts) - epoch_us(ts) AS age_us
        FROM matched
    )
    SELECT age_days,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(age_us) AS BIGINT) AS sum_age_us,
           CAST(MAX(age_us) AS BIGINT) AS max_age_us
    FROM aged GROUP BY age_days
"""

# f28: the oracle replays the latest-per-entity semantics both store lanes
# must agree on (max ts, then min row id — reference store.py:516-530), and
# asserts the audit's mismatch count is zero: a correct engine's two paths
# cannot diverge, so any skew flips both the counter and the value hash.
ORACLE_SQL["f28_online_offline_consistency"] = f"""
    WITH feats AS ({_FEATS_CENTS}),
    latest AS (
        SELECT entity_id, epoch_us(ts) AS ts_us, event_id, event_type,
               value_cents
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY entity_id
                  ORDER BY ts DESC, event_id ASC) AS rn
              FROM feats)
        WHERE rn = 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents,
           CAST(MIN(ts_us) AS BIGINT) AS min_ts_us,
           CAST(MAX(ts_us) AS BIGINT) AS max_ts_us,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM latest
    GROUP BY event_type
"""

# f21: banded forward argmin; ties (same purchase ts) take min event_id,
# matching asof_join_forward's min-__row_id__ contract.
ORACLE_SQL["f21_asof_forward"] = f"""
    WITH ev AS ({_EV}),
    spine AS (SELECT event_id AS spine_id, user_id, ts AS sts
              FROM ev WHERE event_type = 'view'),
    cand AS (
        SELECT s.spine_id, s.user_id, s.sts, f.ts AS fts, f.value, f.event_id
        FROM spine s
        JOIN (SELECT * FROM ev WHERE event_type = 'purchase') f
             USING (user_id)
        WHERE f.ts >= s.sts
          AND epoch_us(f.ts) - epoch_us(s.sts) <= 43200000000
    ),
    pick AS (
        SELECT user_id, sts, fts, value,
               row_number() OVER (PARTITION BY spine_id
                                  ORDER BY fts, event_id) AS rn
        FROM cand
    )
    SELECT user_id, epoch_us(sts) AS view_us, epoch_us(fts) AS buy_us,
           value, epoch_us(fts) - epoch_us(sts) AS time_to_convert_us
    FROM pick WHERE rn = 1
"""

# io8: rows + content checksum recomputed straight from the source —
# a lossy compaction hash-mismatches; layout facts are pinned as flags.
ORACLE_SQL["io8_compaction"] = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows,
           CAST(SUM(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ','
                     || CAST(epoch_us(ts) AS VARCHAR)), 1, 8))::BIGINT
                    % 2147483648) AS BIGINT) AS content_check,
           CAST(1 AS BIGINT) AS files_after,
           TRUE AS compacted,
           TRUE AS rows_preserved
    FROM ({_EV})
"""

ORACLE_SQL["f22_upsert_patch"] = f"""
    WITH feats AS ({_FEATS_CENTS}),
    patch AS (
        SELECT entity_id, ts,
               CAST(MAX(event_id) AS BIGINT) AS event_id,
               'purchase_fixed' AS event_type,
               CAST(max_by(value_cents, event_id) + 1000 AS BIGINT)
                   AS value_cents
        FROM feats WHERE event_type = 'purchase' AND entity_id < 20
        GROUP BY entity_id, ts
    ),
    untouched AS (
        SELECT f.* FROM feats f
        WHERE NOT EXISTS (SELECT 1 FROM patch p
                          WHERE p.entity_id = f.entity_id AND p.ts = f.ts)
    )
    SELECT entity_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
           event_type, value_cents
    FROM (SELECT * FROM untouched UNION ALL SELECT * FROM patch)
"""

ORACLE_SQL["f23_expire_ttl"] = f"""
    WITH feats AS ({_FEATS_CENTS})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_cents) AS BIGINT) AS sum_value_cents,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM feats) AS v1_rows
    FROM feats
    WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY event_type
"""

ORACLE_SQL["f24_erase_audit"] = f"""
    WITH feats AS ({_FEATS_CENTS}),
    v1 AS (SELECT * FROM feats WHERE event_id % 2 = 0),
    v2 AS (SELECT * FROM feats)
    SELECT CAST(1 AS BIGINT) AS version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v1
            WHERE entity_id IN (3, 7, 11)) AS rows_removed,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_F24_CHK} AS content_check
    FROM v1 WHERE entity_id NOT IN (3, 7, 11)
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v2
            WHERE entity_id IN (3, 7, 11)),
           CAST(COUNT(*) AS BIGINT),
           {_F24_CHK}
    FROM v2 WHERE entity_id NOT IN (3, 7, 11)
"""

# f20: interval containment replayed over the same lead() dim.
ORACLE_SQL["f20_scd2_dim_join"] = f"""
    WITH ev AS ({_EV}),
    dim AS (
        SELECT user_id AS d_user, ts AS valid_from,
               COALESCE(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                        TIMESTAMP '9999-12-31') AS valid_to,
               value AS dim_value, event_id AS dim_event
        FROM ev WHERE event_type = 'click'
    ),
    buys AS (SELECT user_id, event_id, ts FROM ev
             WHERE event_type = 'purchase')
    SELECT b.user_id, b.event_id AS buy_id, epoch_us(b.ts) AS buy_us,
           d.dim_event, d.dim_value
    FROM buys b JOIN dim d
      ON b.user_id = d.d_user
     AND b.ts >= d.valid_from AND b.ts < d.valid_to
"""

# f18: banded argmin replay of the nearest as-of; tie chain
# (distance, backward-first, event_id) matches the operator's
# (|dt|, is_forward, __row_id__) exactly.
ORACLE_SQL["f18_asof_nearest"] = f"""
    WITH ev AS ({_EV}),
    spine AS (SELECT event_id AS spine_id, user_id, ts AS sts
              FROM ev WHERE event_type = 'purchase'),
    cand AS (
        SELECT s.spine_id, s.user_id, s.sts, f.ts AS fts, f.value,
               abs(epoch_us(f.ts) - epoch_us(s.sts)) AS dist,
               CASE WHEN f.ts <= s.sts THEN 0 ELSE 1 END AS fwd,
               f.event_id
        FROM spine s JOIN (SELECT * FROM ev WHERE event_type <> 'purchase') f
             USING (user_id)
        WHERE abs(epoch_us(f.ts) - epoch_us(s.sts)) <= 21600000000
    ),
    pick AS (
        SELECT user_id, sts, fts, value,
               row_number() OVER (PARTITION BY spine_id
                                  ORDER BY dist, fwd, event_id) AS rn
        FROM cand
    )
    SELECT user_id, epoch_us(fts) AS feature_us, value,
           epoch_us(sts) AS spine_us
    FROM pick WHERE rn = 1
"""

# f18b: two physical plans, one oracle (see q_f18b docstring).
ORACLE_SQL["f18b_asof_nearest_banded"] = ORACLE_SQL["f18_asof_nearest"]

ORACLE_SQL["f25_online_snapshot"] = f"""
    WITH ev AS ({_EV}),
    latest AS (
        SELECT user_id AS entity_id, epoch_us(ts) AS ts_us, event_id,
               event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM ev
    )
    SELECT entity_id, ts_us, event_id, event_type, value_cents,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev)
               AS snapshot_rows
    FROM latest WHERE rn = 1 AND entity_id BETWEEN 0 AND 24
"""




ORACLE_SQL["online1_point_read"] = f"""
    WITH ev AS ({_EV}),
    latest AS (
        SELECT user_id AS entity_id, epoch_us(ts) AS ts_us, event_id,
               event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM ev
    )
    SELECT entity_id, ts_us, event_id, event_type, value_cents
    FROM latest WHERE rn = 1 AND entity_id BETWEEN 0 AND 4
"""








ORACLE_SQL["drift1_psi_value"] = f"""
    WITH f AS ({_EV}),
    b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut FROM f),
    r AS (SELECT value FROM f, b WHERE epoch_us(ts) < cut),
    c AS (SELECT value FROM f, b WHERE epoch_us(ts) >= cut),
    e AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
                 CAST(max(value) AS DOUBLE) AS hi FROM r),
    rb AS (
        SELECT LEAST(GREATEST(CAST(floor((value - lo) / ((hi - lo) / 10.0))
                                   AS BIGINT), 0), 9) AS bucket,
               count(*) AS nr
        FROM r, e WHERE value IS NOT NULL GROUP BY 1
    ),
    cb AS (
        SELECT LEAST(GREATEST(CAST(floor((value - lo) / ((hi - lo) / 10.0))
                                   AS BIGINT), 0), 9) AS bucket,
               count(*) AS nc
        FROM c, e WHERE value IS NOT NULL GROUP BY 1
    ),
    j AS (
        SELECT COALESCE(rb.bucket, cb.bucket) AS bucket,
               COALESCE(nr, 0) AS nr, COALESCE(nc, 0) AS nc
        FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket
    ),
    fr AS (
        SELECT bucket,
               nr / CAST(sum(nr) OVER () AS DOUBLE) AS ref_frac,
               nc / CAST(sum(nc) OVER () AS DOUBLE) AS cur_frac
        FROM j
    )
    SELECT bucket,
           CAST(floor(ref_frac * 1e6 + 0.5) AS BIGINT) AS ref_ppm,
           CAST(floor(cur_frac * 1e6 + 0.5) AS BIGINT) AS cur_ppm,
           CAST(floor((ref_frac - cur_frac)
                      * ln((ref_frac + 1e-6) / (cur_frac + 1e-6))
                      * 1e9 + 0.5) AS BIGINT) AS psi_nano
    FROM fr
"""


ORACLE_SQL["drift2_event_mix"] = f"""
    WITH f AS ({_EV}),
    b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut FROM f),
    r AS (SELECT event_type FROM f, b WHERE epoch_us(ts) < cut),
    c AS (SELECT event_type FROM f, b WHERE epoch_us(ts) >= cut),
    rb AS (SELECT event_type AS category, count(*) AS nr FROM r GROUP BY 1),
    cb AS (SELECT event_type AS category, count(*) AS nc FROM c GROUP BY 1),
    j AS (
        SELECT COALESCE(rb.category, cb.category) AS category,
               COALESCE(nr, 0) AS nr, COALESCE(nc, 0) AS nc
        FROM rb FULL OUTER JOIN cb ON rb.category = cb.category
    ),
    fr AS (
        SELECT category,
               nr / CAST(sum(nr) OVER () AS DOUBLE) AS ref_frac,
               nc / CAST(sum(nc) OVER () AS DOUBLE) AS cur_frac
        FROM j
    )
    SELECT category,
           CAST(floor(ref_frac * 1e6 + 0.5) AS BIGINT) AS ref_ppm,
           CAST(floor(cur_frac * 1e6 + 0.5) AS BIGINT) AS cur_ppm,
           CAST(floor(abs(ref_frac - cur_frac) * 1e6 + 0.5) AS BIGINT)
               AS l1_ppm
    FROM fr
"""


ORACLE_SQL["f39_embargo_training_set"] = f"""
    WITH f AS ({_EV}),
    s AS (SELECT DISTINCT user_id, ts AS sts FROM f
          WHERE event_type = 'purchase')
    SELECT user_id, event_id, ts_us, value FROM (
        SELECT s.user_id, f.event_id, epoch_us(f.ts) AS ts_us, f.value,
               row_number() OVER (PARTITION BY s.user_id, s.sts
                                  ORDER BY f.ts DESC, f.event_id ASC) AS rn
        FROM s JOIN f ON s.user_id = f.user_id
                     AND f.ts <= s.sts - INTERVAL 24 HOURS
    ) WHERE rn = 1
"""


ORACLE_SQL["f40_schema_widening"] = f"""
    WITH f AS ({_EV}),
    u AS (
        SELECT user_id, event_id, value, CAST(NULL AS VARCHAR) AS event_type
        FROM f WHERE ts < TIMESTAMP '2024-01-16'
        UNION ALL
        SELECT user_id, event_id, value, event_type
        FROM f WHERE ts >= TIMESTAMP '2024-01-16'
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM u GROUP BY event_type
"""


ORACLE_SQL["h4_tiered_retention"] = f"""
    WITH f AS ({_EV}),
    b AS (SELECT max(epoch_us(ts)) AS maxus FROM f),
    t AS (SELECT epoch_us(ts) AS us,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM f),
    tiers AS (
        SELECT 'raw' AS tier, us AS bucket_us, cents
        FROM t, b WHERE us >= maxus - 7 * 86400000000
        UNION ALL
        SELECT 'hourly' AS tier,
               (us // 3600000000) * 3600000000 AS bucket_us, cents
        FROM t, b WHERE us < maxus - 7 * 86400000000
                    AND us >= maxus - 14 * 86400000000
        UNION ALL
        SELECT 'daily' AS tier,
               (us // 86400000000) * 86400000000 AS bucket_us, cents
        FROM t, b WHERE us < maxus - 14 * 86400000000
    ),
    rolled AS (
        SELECT tier, bucket_us,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM tiers GROUP BY tier, bucket_us
    )
    SELECT tier, (bucket_us // 86400000000) * 86400000000 AS day_us,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(sum_cents) AS BIGINT) AS sum_cents
    FROM rolled GROUP BY tier, day_us
"""

# f41: fsvc1's two PIT argmaxes with the service's projection, output under
# the registered output_mapping's MODEL names.
ORACLE_SQL["f41_output_mapping"] = f"""
    WITH f AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
               FROM events),
    p AS (SELECT user_id, value_cents FROM (
            SELECT user_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1),
    c AS (SELECT user_id, event_id, value_cents FROM (
            SELECT user_id, event_id, value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'click'
              AND ts <= TIMESTAMP '2024-01-15') WHERE rn = 1)
    SELECT p.user_id,
           epoch_us(TIMESTAMP '2024-01-15') AS ts_us,
           p.value_cents AS purchase_amount_cents,
           c.value_cents AS click_value_cents,
           c.event_id AS last_click_id
    FROM p JOIN c ON p.user_id = c.user_id
"""

# f42: correlated trailing-window replay — both window ends inclusive
# ([g.ts - W, g.ts]); counts/sums/max over integer cents.
ORACLE_SQL["f42_window_view"] = f"""
    WITH ev AS (
        SELECT user_id, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM ({_EV})
    ),
    g AS (SELECT * FROM (VALUES (TIMESTAMP '2024-01-10'),
                                (TIMESTAMP '2024-01-24')) AS t(gts)),
    u AS (SELECT DISTINCT user_id FROM ev),
    spine AS (SELECT u.user_id, g.gts FROM u CROSS JOIN g)
    SELECT s.user_id,
           epoch_us(s.gts) AS ts_us,
           CAST(SUM(CASE WHEN e.ts >= s.gts - INTERVAL 7 DAY
                         THEN e.cents END) AS BIGINT) AS cents_sum_7d,
           CAST(COUNT(CASE WHEN e.ts >= s.gts - INTERVAL 7 DAY
                           THEN e.cents END) AS BIGINT) AS n_events_7d,
           CAST(MAX(CASE WHEN e.ts >= s.gts - INTERVAL 30 DAY
                         THEN e.cents END) AS BIGINT) AS cents_max_30d
    FROM spine s
    LEFT JOIN ev e
      ON e.user_id = s.user_id AND e.ts <= s.gts
         AND e.ts >= s.gts - INTERVAL 30 DAY
    GROUP BY s.user_id, s.gts
"""

# f44: both logged serves recomputed from the raw feed — the online
# snapshot is the latest-per-user purchase argmax over ALL history.
ORACLE_SQL["f44_serving_log"] = f"""
    WITH f AS ({_EV}),
    snap AS (
        SELECT user_id, value_cents FROM (
            SELECT user_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    serves AS (
        SELECT TIMESTAMP '2024-02-01 03:00:00' AS served_at,
               user_id, value_cents
        FROM snap WHERE user_id < 10
        UNION ALL
        SELECT TIMESTAMP '2024-02-01 09:00:00', user_id, value_cents
        FROM snap
    )
    SELECT epoch_us(served_at) AS served_at_us,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           CAST(SUM(user_id) AS BIGINT) AS sum_users
    FROM serves GROUP BY served_at
"""

# dq14: split + injected-null replay. v1 = early half (score predates the
# version -> 100% null); v2 = whole feed with the % 11 null rule on the
# late half only.
ORACLE_SQL["dq14_version_profile"] = f"""
    WITH f AS ({_EV}),
    early AS (SELECT * FROM f WHERE ts < TIMESTAMP '2024-01-16'),
    v2 AS (
        SELECT event_id, event_type,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_id % 11 = 0
                    THEN NULL
                    ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               END AS value_cents,
               CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN event_id % 5 END AS score
        FROM f
    ),
    p1 AS (
        SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS nulls_vc,
               CAST(0 AS BIGINT) AS nulls_et,
               CAST(COUNT(*) AS BIGINT) AS nulls_sc
        FROM early
    ),
    p2 AS (
        SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN value_cents IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nulls_vc,
               CAST(0 AS BIGINT) AS nulls_et,
               CAST(SUM(CASE WHEN score IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nulls_sc
        FROM v2
    ),
    pp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
    unp AS (
        SELECT version, n_rows, 'value_cents' AS "column", nulls_vc AS n_nulls
        FROM pp
        UNION ALL
        SELECT version, n_rows, 'event_type', nulls_et FROM pp
        UNION ALL
        SELECT version, n_rows, 'score', nulls_sc FROM pp
    )
    SELECT CAST(version AS BIGINT) AS version, "column", n_rows, n_nulls,
           CAST(n_nulls * 1000000 // GREATEST(n_rows, 1) AS BIGINT)
               AS null_ppm
    FROM unp
"""

# f45: f7-grid argmax, output keyed in the caller's vocabulary ("driver").
ORACLE_SQL["f45_join_key_map"] = f"""
    WITH f AS ({_EV})
    SELECT user_id AS driver,
           epoch_us(ts) AS ts_us,
           event_id,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM f WHERE ts <= TIMESTAMP '2024-01-15'
    ) WHERE rn = 1
"""

# dq15: the happy-path fact publishes (every non-NULL FK resolves by
# construction); PIT replay for users 0-24 with the injected-NULL column.
ORACLE_SQL["dq15_fk_contract"] = f"""
    WITH f AS ({_EV})
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
           CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id END AS user_ref
    FROM (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM f WHERE ts <= TIMESTAMP '2024-01-20' AND user_id < 25
    ) WHERE rn = 1
"""

# dq16: the happy path publishes (feed is duplicate-free by construction);
# PIT replay for users 0-24.
ORACLE_SQL["dq16_unique_contract"] = f"""
    WITH f AS ({_EV})
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM f WHERE ts <= TIMESTAMP '2024-01-20' AND user_id < 25
    ) WHERE rn = 1
"""

# f46: both argmax snapshots replayed and diffed in SQL (null-safe equality
# is irrelevant here — both sides are non-null where present).
ORACLE_SQL["f46_compare_services"] = f"""
    WITH f AS ({_EV}),
    champ AS (
        SELECT user_id, value_cents FROM (
            SELECT user_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    chall AS (
        SELECT user_id, value_cents FROM (
            SELECT user_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM f WHERE event_type = 'purchase'
              AND event_id % 7 <> 0 AND user_id < 140
        ) WHERE rn = 1
    ),
    j AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               a.value_cents AS va, b.value_cents AS vb
        FROM champ a FULL OUTER JOIN chall b ON a.user_id = b.user_id
    )
    SELECT 'spend_cents' AS "column",
           CAST(SUM(CASE WHEN ua IS NOT NULL AND ub IS NOT NULL
                          AND va = vb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
           CAST(SUM(CASE WHEN ua IS NOT NULL AND ub IS NOT NULL
                          AND va <> vb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_diff,
           CAST(SUM(CASE WHEN ub IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_champion,
           CAST(SUM(CASE WHEN ua IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_challenger
    FROM j
"""

# h5: exact distincts + counts/sums recomputed from the full feed; the two
# booleans are TRUE literals here — the Spark side must EARN them.
ORACLE_SQL["h5_rollup_distinct"] = f"""
    WITH f AS ({_EV})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tolerance,
           TRUE AS merge_exact
    FROM f GROUP BY event_type
"""

# f47: argmax with BOTH predicates — event ts <= spine ts AND
# ingest ts (event ts + (event_id % 5) days) <= knowledge time.
ORACLE_SQL["f47_bitemporal"] = f"""
    WITH f AS ({_EV}),
    b AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents,
               ts + (event_id % 5) * INTERVAL 1 DAY AS ingest_ts
        FROM f
    )
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value_cents,
           epoch_us(ingest_ts) AS ingest_us
    FROM (
        SELECT user_id, ts, event_id, value_cents, ingest_ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM b
        WHERE ts <= TIMESTAMP '2024-01-18'
          AND ingest_ts <= TIMESTAMP '2024-01-20'
    ) WHERE rn = 1
"""
