"""Property-based PIT/as-of tests (hypothesis) against an executable spec.

The spec is a ~20-line pure-Python reimplementation of the SEMANTICS from
SURVEY §2.3 (inclusive cutoff, max-ts row, min-row-id tie-break, feature-ts
output) — derived from the documented contract, not a code port.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ml_feature_store_spark.operators.asof import asof_join
from ml_feature_store_spark.operators.pit import latest_per_entity, temporal_filter

BASE = dt.datetime(2024, 1, 1)

# small domains force collisions: few entities, few distinct timestamps
entities = st.sampled_from(["a", "b", "c"])
day_offsets = st.integers(min_value=0, max_value=6)
values = st.integers(min_value=0, max_value=100)

feature_rows = st.lists(
    st.tuples(entities, day_offsets, values), min_size=1, max_size=25
)
spine_rows = st.lists(st.tuples(entities, day_offsets), min_size=1, max_size=10)


def spec_pit(rows, cutoff_days):
    """Latest row per entity with ts <= cutoff; ties -> first input row."""
    best = {}
    for row_id, (e, d, v) in enumerate(rows):
        if d > cutoff_days:
            continue
        cur = best.get(e)
        if cur is None or d > cur[0] or (d == cur[0] and row_id < cur[1]):
            # strictly-greater ts wins; equal ts keeps earlier row_id
            if cur is None or d > cur[0]:
                best[e] = (d, row_id, v)
    return {e: (d, v) for e, (d, row_id, v) in best.items()}


def spec_asof(feature_rows_, spine):
    out = []
    for e, sd in spine:
        match = spec_pit(feature_rows_, sd).get(e)
        if match is not None:
            out.append((e, match[0], match[1]))  # feature ts, not spine ts
    return sorted(out)


def _to_df(spark, rows):
    data = [
        (e, BASE + dt.timedelta(days=d), v, i) for i, (e, d, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, ["entity_id", "timestamp", "val", "__row_id__"]
    ).coalesce(1)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, cutoff=day_offsets)
def test_pit_matches_spec(spark, rows, cutoff):
    df = _to_df(spark, rows)
    got = {
        r["entity_id"]: ((r["timestamp"] - BASE).days, r["val"])
        for r in latest_per_entity(temporal_filter(df, BASE + dt.timedelta(days=cutoff))).collect()
    }
    assert got == spec_pit(rows, cutoff)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, spine=spine_rows)
@pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
def test_asof_matches_spec(spark, strategy, rows, spine):
    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    # 1-day buckets put every distinct day in its own bucket, forcing the
    # bucketed strategy's carry-in path on nearly every spine row
    kw = {"bucket_seconds": 86400} if strategy == "union_bucketed" else {}
    got = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join(spine_df, feats, strategy=strategy, **kw).collect()
    )
    assert got == spec_asof(rows, spine)


def spec_asof_tolerance(feature_rows_, spine, tol_days):
    out = []
    for e, sd in spine:
        match = spec_pit(feature_rows_, sd).get(e)
        if match is not None and match[0] >= sd - tol_days:  # inclusive bound
            out.append((e, match[0], match[1]))
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, spine=spine_rows, tol=st.integers(min_value=0, max_value=3))
@pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
def test_asof_tolerance_matches_spec(spark, strategy, rows, spine, tol):
    """Tolerance interacts with bucketing at the worst spot by construction:
    day-granular timestamps + 1-day buckets put every spine row EXACTLY on a
    bucket edge, so any lookback match lives in a PRIOR bucket (carry-in
    path) and the tolerance bound itself lands exactly on feature
    timestamps (inclusive >=)."""
    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    kw = {"bucket_seconds": 86400} if strategy == "union_bucketed" else {}
    got = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join(
            spine_df, feats, strategy=strategy,
            tolerance_seconds=tol * 86400.0, **kw
        ).collect()
    )
    assert got == spec_asof_tolerance(rows, spine, tol)


@pytest.mark.parametrize("strategy", ["jion", "join"])
def test_unknown_strategy_refused(spark, strategy):
    feats = _to_df(spark, [("a", 0, 1)])
    spine = spark.createDataFrame([("a", BASE)], ["entity_id", "timestamp"])
    with pytest.raises(ValueError, match="'union' or 'union_bucketed'"):
        asof_join(spine, feats, strategy=strategy)


@pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
def test_tolerance_at_exact_bucket_edge(spark, strategy):
    """Spine ts exactly at a bucket edge, match at the prior bucket's last
    second: one-second tolerance keeps it (inclusive), zero drops it."""
    feats = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 9, 59, 59), 7, 0)],
        ["entity_id", "timestamp", "val", "__row_id__"],
    )
    spine = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 10, 0, 0))], ["entity_id", "timestamp"]
    )
    kw = {"bucket_seconds": 3600} if strategy == "union_bucketed" else {}
    kept = asof_join(
        spine, feats, strategy=strategy, tolerance_seconds=1.0, **kw
    ).collect()
    assert [(r.entity_id, r.val) for r in kept] == [("a", 7)]
    dropped = asof_join(
        spine, feats, strategy=strategy, tolerance_seconds=0.5, **kw
    ).collect()
    assert dropped == []


@pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
def test_left_asof_keeps_unmatched_spine_rows(spark, strategy):
    """how='left': spine rows with no qualifying feature survive with
    null features (Feast contract); matched rows identical to inner."""
    import datetime as dt

    from ml_feature_store_spark.operators.asof import asof_join

    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    feats = spark.createDataFrame(
        [("a", d(10), 1.0, 1), ("b", d(20), 2.0, 2)],
        ["entity_id", "timestamp", "x", "__row_id__"],
    )
    spine = spark.createDataFrame(
        [("a", d(5)), ("a", d(15)), ("b", d(25)), ("c", d(15))],
        ["entity_id", "timestamp"],
    )
    out = {
        (r["entity_id"], r["as_of_timestamp"]): (r["x"], r["timestamp"])
        for r in asof_join(
            spine, feats, strategy=strategy, keep_spine_ts=True, how="left"
        ).collect()
    }
    assert len(out) == 4
    assert out[("a", d(5))] == (None, None)     # before any feature
    assert out[("c", d(15))] == (None, None)    # entity never seen
    assert out[("a", d(15))] == (1.0, d(10))
    assert out[("b", d(25))] == (2.0, d(20))

    inner = asof_join(spine, feats, strategy=strategy, keep_spine_ts=True).collect()
    assert {
        (r["entity_id"], r["as_of_timestamp"]) for r in inner
    } == {("a", d(15)), ("b", d(25))}


@pytest.mark.parametrize("strategy", ["union", "union_bucketed"])
def test_left_asof_tolerance_pads_instead_of_drops(spark, strategy):
    import datetime as dt

    from ml_feature_store_spark.operators.asof import asof_join

    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731
    feats = spark.createDataFrame(
        [("a", d(1), 1.0, 1)], ["entity_id", "timestamp", "x", "__row_id__"]
    )
    spine = spark.createDataFrame(
        [("a", d(2)), ("a", d(20))], ["entity_id", "timestamp"]
    )
    out = {
        r["as_of_timestamp"]: (r["x"], r["timestamp"])
        for r in asof_join(
            spine,
            feats,
            strategy=strategy,
            keep_spine_ts=True,
            tolerance_seconds=3 * 24 * 3600,
            how="left",
        ).collect()
    }
    assert out[d(2)] == (1.0, d(1))      # within 3 days
    assert out[d(20)] == (None, None)    # match exists but too old -> padded


# --------------------------------------------------------------------- #
# nearest direction (merge_asof direction='nearest' parity)
# --------------------------------------------------------------------- #


def spec_nearest(rows, spine, tol_days=None):
    """Nearest-direction spec: backward candidate per spec_pit (max ts <=
    spine, min-row-id tie), forward candidate = min ts > spine (min-row-id
    tie); closer wins, distance ties prefer backward. Because each
    candidate is its side's minimum distance, the chosen row is the
    GLOBAL distance argmin — so tolerance-after-choice == tolerance-
    before-choice."""
    out = []
    for e, sd in spine:
        back = spec_pit(rows, sd).get(e)  # (d, v) or None
        fwd = None
        for row_id, (e2, d, v) in enumerate(rows):
            if e2 == e and d > sd:
                if fwd is None or d < fwd[0] or (d == fwd[0] and row_id < fwd[1]):
                    if fwd is None or d < fwd[0]:
                        fwd = (d, row_id, v)
        fwd = (fwd[0], fwd[2]) if fwd else None
        if back is None and fwd is None:
            continue
        if back is None:
            chosen = fwd
        elif fwd is None:
            chosen = back
        else:
            chosen = back if (sd - back[0]) <= (fwd[0] - sd) else fwd
        if tol_days is not None and abs(chosen[0] - sd) > tol_days:
            continue
        out.append((e, chosen[0], chosen[1]))
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, spine=spine_rows, tol=st.none() | st.integers(0, 3))
def test_asof_nearest_matches_spec(spark, rows, spine, tol):
    from ml_feature_store_spark.operators.asof import asof_join_nearest

    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    got = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join_nearest(
            spine_df,
            feats,
            tolerance_seconds=tol * 86400 if tol is not None else None,
        ).collect()
    )
    assert got == spec_nearest(rows, spine, tol)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(entities, day_offsets, values),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),  # unique (entity, ts): pandas'
        # positional tie-break among duplicate keys differs by design
    ),
    spine=spine_rows,
)
def test_asof_nearest_matches_pandas_merge_asof(spark, rows, spine):
    import pandas as pd

    from ml_feature_store_spark.operators.asof import asof_join_nearest

    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    # keep_spine_ts lets us key each output row by its spine (entity, ts)
    got = sorted(
        (r["entity_id"], (r["as_of_timestamp"] - BASE).days, r["val"])
        for r in asof_join_nearest(spine_df, feats, keep_spine_ts=True).collect()
    )
    want = []
    for e in {e for e, _ in spine}:
        left = pd.DataFrame(
            {"t": sorted(BASE + dt.timedelta(days=d) for e2, d in spine if e2 == e)}
        )
        right = (
            pd.DataFrame(
                {
                    "t": [BASE + dt.timedelta(days=d) for e2, d, v in rows if e2 == e],
                    "v": [v for e2, d, v in rows if e2 == e],
                }
            )
            .sort_values("t")
            .reset_index(drop=True)
        )
        if right.empty:
            continue
        m = pd.merge_asof(left, right, on="t", direction="nearest")
        want += [
            (e, (row.t - BASE).days, int(row.v))
            for row in m.itertuples(index=False)
            if not pd.isna(row.v)
        ]
    assert got == sorted(want)


def spec_forward(rows, spine, tol_days=None):
    """Forward spec: earliest feature with ts >= spine ts (exact matches
    included), min-row-id among equal ts."""
    out = []
    for e, sd in spine:
        fwd = None
        for row_id, (e2, d, v) in enumerate(rows):
            if e2 == e and d >= sd:
                if fwd is None or d < fwd[0] or (d == fwd[0] and row_id < fwd[1]):
                    if fwd is None or d < fwd[0]:
                        fwd = (d, row_id, v)
        if fwd is None:
            continue
        if tol_days is not None and fwd[0] - sd > tol_days:
            continue
        out.append((e, fwd[0], fwd[2]))
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, spine=spine_rows, tol=st.none() | st.integers(0, 3))
def test_asof_forward_matches_spec(spark, rows, spine, tol):
    from ml_feature_store_spark.operators.asof import asof_join_forward

    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    got = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join_forward(
            spine_df,
            feats,
            tolerance_seconds=tol * 86400 if tol is not None else None,
        ).collect()
    )
    assert got == spec_forward(rows, spine, tol)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(entities, day_offsets, values),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    ),
    spine=spine_rows,
)
def test_asof_forward_matches_pandas_merge_asof(spark, rows, spine):
    import pandas as pd

    from ml_feature_store_spark.operators.asof import asof_join_forward

    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    got = sorted(
        (r["entity_id"], (r["as_of_timestamp"] - BASE).days, r["val"])
        for r in asof_join_forward(spine_df, feats, keep_spine_ts=True).collect()
    )
    want = []
    for e in {e for e, _ in spine}:
        left = pd.DataFrame(
            {"t": sorted(BASE + dt.timedelta(days=d) for e2, d in spine if e2 == e)}
        )
        right = (
            pd.DataFrame(
                {
                    "t": [BASE + dt.timedelta(days=d) for e2, d, v in rows if e2 == e],
                    "v": [v for e2, d, v in rows if e2 == e],
                }
            )
            .sort_values("t")
            .reset_index(drop=True)
        )
        if right.empty:
            continue
        m = pd.merge_asof(left, right, on="t", direction="forward")
        want += [
            (e, (row.t - BASE).days, int(row.v))
            for row in m.itertuples(index=False)
            if not pd.isna(row.v)
        ]
    assert got == sorted(want)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=feature_rows, spine=spine_rows, tol=st.integers(1, 3))
def test_asof_nearest_banded_equals_union_plan(spark, rows, spine, tol):
    """The skew-safe banded nearest (3-bucket explode + min_by argmin)
    must equal the union double-window plan for any data and tolerance —
    day-granular timestamps with tolerance == bucket width park every
    boundary case ON a bucket edge."""
    from ml_feature_store_spark.operators.asof import (
        asof_join_nearest,
        asof_join_nearest_banded,
    )

    feats = _to_df(spark, rows)
    spine_df = spark.createDataFrame(
        [(e, BASE + dt.timedelta(days=d)) for e, d in spine],
        ["entity_id", "timestamp"],
    )
    want = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join_nearest(
            spine_df, feats, tolerance_seconds=tol * 86400.0
        ).collect()
    )
    got = sorted(
        (r["entity_id"], (r["timestamp"] - BASE).days, r["val"])
        for r in asof_join_nearest_banded(
            spine_df, feats, tolerance_seconds=tol * 86400.0
        ).collect()
    )
    assert got == want
