"""Distributed as-of joins: backward, forward and nearest.

The reference's ``get_training_set`` is a Python loop over spine rows with a
full-table boolean mask per row — O(|spine| x |table|)
(reference: src/ml_feature_store/store.py:261-334, loop at 288, mask at
326-328). Spark has no native as-of join; every direction here is one
kernel used several ways:

* ``_tagged`` unions feature rows (payload struct in ``__payload__``) and
  spine rows (null payload, ``__is_spine__ = 1``) into one frame;
* ``_carry`` runs the one carry-forward window over it — a running
  ``last(payload, ignorenulls=True)`` — and holds the only copy of the
  tie-break order;
* ``_emit`` projects the picked feature row back into output columns.

NO join between spine and features, NO row explosion: cost is
O((|spine|+|table|) log) per window partition, independent of per-entity
fan-out. The backward join has two strategies:

* ``strategy="union"`` (default) — one carry partitioned by entity: ONE
  shuffle. This is the 100 TB strategy.

* ``strategy="union_bucketed"`` — the hot-entity (skew) variant. A window
  partitioned by entity alone serializes each entity into ONE task; an
  entity with billions of rows stalls the stage. Here the carry runs per
  (entity, time bucket) — bounded work per task — and a second, tiny pass
  over per-bucket maxima (one row per (entity, bucket), computed with a
  skew-immune partial-aggregating max_by) supplies each bucket's carry-in:
  the latest feature from any earlier bucket. Identical semantics
  (property-tested against ``union``), two extra narrow shuffles over
  per-bucket cardinality data.

``asof_join_forward`` and ``asof_join_nearest`` add the reversed (forward)
carry on the same entity partitioning; ``asof_join_nearest_banded`` runs
both carries per (entity, tolerance-wide bucket), the hot-entity variant
of nearest.

Semantics (must-match, SURVEY §2.3#4):
  * inclusive: feature.ts <= spine.ts qualifies;
  * output ``timestamp`` = the matched FEATURE row's timestamp (not the
    spine's);
  * spine rows with no qualifying feature row are dropped (inner);
  * duplicate spine rows produce duplicate outputs;
  * among tied max feature timestamps the smallest ``__row_id__`` wins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .pit import ENTITY_COL, ROW_ID_COL, TIMESTAMP_COL, _latest_key

ASOF_STRATEGIES = ("union", "union_bucketed")


def asof_join(
    spine: DataFrame,
    features: DataFrame,
    entity_col: str = ENTITY_COL,
    ts_col: str = TIMESTAMP_COL,
    strategy: str = "union",
    keep_spine_ts: bool = False,
    tolerance_seconds: float | None = None,
    bucket_seconds: int = 30 * 24 * 3600,
    how: str = "inner",
    embargo_seconds: float = 0.0,
) -> DataFrame:
    """For each spine (entity, ts) row return the latest feature row with
    ``feature.ts <= spine.ts``. See module docstring for semantics;
    ``strategy`` is ``"union"`` or ``"union_bucketed"``.

    ``keep_spine_ts=True`` additionally emits the spine timestamp as
    ``as_of_timestamp`` (useful for training pipelines; the reference's
    output contract omits it).

    ``tolerance_seconds`` bounds the lookback (pandas ``merge_asof``-style):
    matches older than ``spine.ts - tolerance`` are dropped (``inner``) or
    null-padded (``left``). Applied post-hoc on the matched feature
    timestamp, so all strategies share the exact same semantics.

    ``how="left"`` keeps spine rows with NO qualifying feature row,
    null-padding the feature columns (Feast's get_historical_features
    contract); ``"inner"`` (default) drops them like the reference.

    ``embargo_seconds`` shifts the qualification cutoff into the past:
    a feature row qualifies only if ``feature.ts <= spine.ts - embargo``.
    This is the label-leakage guard for delayed/settled data — e.g. a
    chargeback label only becomes RELIABLE 24 h after the event, so a
    training set built "as of" the label time must refuse features from
    the final 24 h even though they temporally precede the label.
    Implemented as a map-side shift of the spine timestamp before the
    join (zero extra shuffles; every strategy inherits it identically);
    ``as_of_timestamp`` still reports the ORIGINAL spine timestamp.
    ``tolerance_seconds`` composes: the lookback window becomes
    ``[spine.ts - embargo - tolerance, spine.ts - embargo]``.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if strategy not in ASOF_STRATEGIES:
        raise ValueError(
            f"strategy must be 'union' or 'union_bucketed', got {strategy!r}"
        )
    if embargo_seconds < 0:
        raise ValueError(
            f"embargo_seconds must be >= 0, got {embargo_seconds!r}"
        )
    if embargo_seconds:
        spine = spine.withColumn(
            ts_col,
            F.col(ts_col)
            - F.expr(f"INTERVAL {float(embargo_seconds)} SECONDS"),
        )
    if strategy == "union_bucketed":
        out = _asof_via_union_bucketed(
            spine, features, entity_col, ts_col, bucket_seconds, how
        )
    else:
        out = _asof_directional(
            spine, features, entity_col, ts_col, None, True, how, "backward"
        )
    if tolerance_seconds is not None:
        bound = F.col("as_of_timestamp") - F.expr(
            f"INTERVAL {float(tolerance_seconds)} SECONDS"
        )
        if how == "inner":
            out = out.filter(F.col(ts_col) >= bound)
        else:
            # left: out-of-tolerance matches keep the spine row, features null
            ok = F.col(ts_col) >= bound
            out = out.select(
                entity_col,
                *[
                    F.when(ok, F.col(c)).otherwise(F.lit(None)).alias(c)
                    if c not in (entity_col, "as_of_timestamp")
                    else F.col(c)
                    for c in out.columns
                    if c != entity_col
                ],
            )
    if embargo_seconds and keep_spine_ts:
        # report the caller's ORIGINAL spine timestamp, not the shifted
        # cutoff the join ran against
        out = out.withColumn(
            "as_of_timestamp",
            F.col("as_of_timestamp")
            + F.expr(f"INTERVAL {float(embargo_seconds)} SECONDS"),
        )
    if not keep_spine_ts:
        out = out.drop("as_of_timestamp")
    return out


def _tagged(
    spine: DataFrame, features: DataFrame, entity_col: str, ts_col: str
) -> tuple[DataFrame, list[str], Column | None]:
    """The one union frame every as-of variant sorts: ``entity_col``,
    ``__evt_ts__``, ``__is_spine__`` and ``__payload__``. Feature rows
    carry their columns (``ts_col`` included) as the ``__payload__``
    struct; spine rows carry a null payload and ``__is_spine__ = 1``.
    Returns ``(frame, payload columns, tie-break column or None)``; the
    tie-break is the payload's ``__row_id__`` when the features have one."""
    payload = [c for c in features.columns if c != entity_col]
    f_tagged = features.select(
        F.col(entity_col),
        F.col(ts_col).alias("__evt_ts__"),
        F.lit(0).alias("__is_spine__"),
        F.struct(*[F.col(c) for c in payload]).alias("__payload__"),
    )
    s_tagged = spine.select(
        F.col(entity_col),
        F.col(ts_col).alias("__evt_ts__"),
        F.lit(1).alias("__is_spine__"),
        F.lit(None).cast(f_tagged.schema["__payload__"].dataType).alias("__payload__"),
    )
    tb = F.col(f"__payload__.{ROW_ID_COL}") if ROW_ID_COL in payload else None
    return f_tagged.unionByName(s_tagged), payload, tb


def _carry(
    df: DataFrame,
    part: list[str],
    tb: Column | None,
    name: str,
    reverse: bool = False,
    exact: bool = True,
) -> DataFrame:
    """Add ``name``: the running ``last(__payload__, ignorenulls=True)``
    over ``part`` — the one carry window of every as-of variant, and the
    only copy of the tie-break order:

    * time ASC, or DESC when ``reverse``;
    * at equal time the spine row sorts AFTER the features when ``exact``
      (an exact-time feature row reaches it), BEFORE them otherwise — in
      the window's own order, reversed or not;
    * among tied feature rows ``__row_id__`` DESC NULLS FIRST, so the
      last one the running window sees is the MIN ``__row_id__`` (pandas
      first-max-occurrence parity, SURVEY §2.3#2) in either direction.

    ``reverse`` is the forward carry: the feature row at-or-after each
    spine row. Its natural spelling, first(ignorenulls) over [CURRENT
    ROW, UNBOUNDED FOLLOWING), makes Spark re-aggregate the suffix for
    EVERY row (UnboundedFollowingWindowFunctionFrame is O(n^2) per
    partition; a 3M-row hot entity never finishes — caught by
    tools/skew_smoke.py). The identical value is the RUNNING
    last(ignorenulls) over the REVERSED sort, which Spark evaluates
    incrementally in O(n): walking the reversed order up to the current
    row visits exactly the rows at-or-after it in forward order, and
    last() picks the one nearest the current row."""
    ts, spine = F.col("__evt_ts__"), F.col("__is_spine__")
    order = [ts.desc() if reverse else ts.asc(), spine.asc() if exact else spine.desc()]
    if tb is not None:
        order.append(tb.desc_nulls_first())
    w = (
        Window.partitionBy(*part)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(name, F.last("__payload__", ignorenulls=True).over(w))


def _emit(
    df: DataFrame,
    picked: str,
    entity_col: str,
    payload: list[str],
    keep_spine_ts: bool,
) -> DataFrame:
    """The one output projection: the entity, the columns of the picked
    feature row (struct column ``picked``) without ``__row_id__``, and the
    spine timestamp as ``as_of_timestamp`` when ``keep_spine_ts``."""
    out_cols = [F.col(entity_col)] + [
        F.col(f"{picked}.{c}").alias(c) for c in payload if c != ROW_ID_COL
    ]
    if keep_spine_ts:
        out_cols.append(F.col("__evt_ts__").alias("as_of_timestamp"))
    return df.select(*out_cols)


def _dist(row: Column, ts_col: str) -> Column:
    """|feature row's ts - spine ts| in microseconds."""
    return F.abs(F.unix_micros(row[ts_col]) - F.unix_micros(F.col("__evt_ts__")))


def _nearer(back: Column, fwd: Column, ts_col: str) -> Column:
    """The candidate closer to the spine row; a distance tie keeps the
    BACKWARD (past) one — never silently prefer future data."""
    return (
        F.when(back.isNull(), fwd)
        .when(fwd.isNull(), back)
        .when(_dist(back, ts_col) <= _dist(fwd, ts_col), back)
        .otherwise(fwd)
    )


def _asof_via_union_bucketed(
    spine: DataFrame,
    features: DataFrame,
    entity_col: str,
    ts_col: str,
    bucket_seconds: int,
    how: str,
) -> DataFrame:
    """Skew-safe union as-of: carry-forward windows per (entity, time
    bucket), plus a carry-in join from per-bucket maxima. See module
    docstring. Always emits ``as_of_timestamp`` (caller drops it)."""
    u, payload, tb = _tagged(spine, features, entity_col, ts_col)
    bucket_us = int(bucket_seconds) * 1_000_000
    u = u.withColumn("__bkt__", F.floor(F.unix_micros("__evt_ts__") / F.lit(bucket_us)))
    part = [entity_col, "__bkt__"]

    # Pass A: within-bucket carry-forward (the `union` carry, but each
    # task's work is bounded by one entity-bucket, not one entity).
    carried = _carry(u, part, tb, "__last_feat__")

    # Pass B: per-(entity, bucket) feature maximum — partial-aggregating
    # max_by, immune to hot entities — left-joined onto the scaffold of ALL
    # buckets either side touches, then a per-entity window over this tiny
    # (one row per entity-bucket) frame yields each bucket's carry-in.
    bucket_last = (
        u.filter(F.col("__is_spine__") == 0)
        .groupBy(*part)
        .agg(
            F.max_by("__payload__", _latest_key(F.col("__evt_ts__"), tb)).alias(
                "__blast__"
            )
        )
    )
    wb = (
        Window.partitionBy(entity_col)
        .orderBy("__bkt__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        u.select(*part)
        .distinct()
        .join(bucket_last, part, "left")
        .withColumn("__carry_in__", F.last("__blast__", ignorenulls=True).over(wb))
        .select(*part, "__carry_in__")
    )

    matched = (
        carried.filter(F.col("__is_spine__") == 1)
        .join(carry, part, "left")
        .withColumn("__feat__", F.coalesce("__last_feat__", "__carry_in__"))
    )
    if how == "inner":
        matched = matched.filter(F.col("__feat__").isNotNull())
    return _emit(matched, "__feat__", entity_col, payload, True)


def asof_join_nearest(
    spine: DataFrame,
    features: DataFrame,
    entity_col: str = ENTITY_COL,
    ts_col: str = TIMESTAMP_COL,
    tolerance_seconds: float | None = None,
    keep_spine_ts: bool = False,
    how: str = "inner",
) -> DataFrame:
    """As-of join, NEAREST direction (pandas ``merge_asof``
    ``direction='nearest'`` parity): each spine row takes the feature row
    minimizing ``|feature.ts - spine.ts|``. Distance ties prefer the
    BACKWARD (past) candidate — never silently prefer future data; ties
    among equal feature timestamps on one side take the minimum
    ``__row_id__`` (the backward contract of ``asof_join``).

    Plan: the union strategy run in BOTH directions — one shuffle on the
    entity key, two in-partition sorts (the backward carry and the
    reversed forward carry, see ``_carry``), then a per-row CASE picks
    the closer candidate. NO join, NO row explosion, cost independent of
    per-entity fan-out — the same reason union is the 100 TB backward
    strategy. ``tolerance_seconds`` bounds the distance post-hoc (drop
    on ``inner``, null-pad on ``left``) with identical semantics in both
    directions."""
    return _asof_directional(
        spine, features, entity_col, ts_col, tolerance_seconds,
        keep_spine_ts, how, "nearest",
    )


def asof_join_forward(
    spine: DataFrame,
    features: DataFrame,
    entity_col: str = ENTITY_COL,
    ts_col: str = TIMESTAMP_COL,
    tolerance_seconds: float | None = None,
    keep_spine_ts: bool = False,
    how: str = "inner",
) -> DataFrame:
    """As-of join, FORWARD direction (pandas ``merge_asof``
    ``direction='forward'`` parity): each spine row takes the EARLIEST
    feature row with ``feature.ts >= spine.ts`` (exact matches included,
    pandas' allow_exact_matches default; min ``__row_id__`` among equal
    timestamps). The time-to-next-event lookup — label-side joins look
    forward the way f16's label windows do, but for a single match.
    Same join-free single-shuffle plan as ``asof_join_nearest``; only
    the forward carry is computed."""
    return _asof_directional(
        spine, features, entity_col, ts_col, tolerance_seconds,
        keep_spine_ts, how, "forward",
    )


def _asof_directional(
    spine: DataFrame,
    features: DataFrame,
    entity_col: str,
    ts_col: str,
    tolerance_seconds: float | None,
    keep_spine_ts: bool,
    how: str,
    direction: str,
) -> DataFrame:
    """The entity-partitioned as-of join in ``direction`` ``"backward"``,
    ``"forward"`` or ``"nearest"``: only the carries that direction needs,
    then the spine rows with their pick."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    u, payload, tb = _tagged(spine, features, entity_col, ts_col)
    part = [entity_col]
    if direction != "backward":
        # Exact matches reach the forward carry only for pure forward
        # (pandas allow_exact_matches); nearest leaves distance 0 to the
        # backward carry.
        u = _carry(u, part, tb, "__fwd__", reverse=True, exact=direction == "forward")
    if direction != "forward":
        u = _carry(u, part, tb, "__last_feat__")
    picked = u.filter(F.col("__is_spine__") == 1)
    if direction == "nearest":
        col = "__near__"
        picked = picked.withColumn(
            col, _nearer(F.col("__last_feat__"), F.col("__fwd__"), ts_col)
        )
    else:
        col = "__last_feat__" if direction == "backward" else "__fwd__"
    if tolerance_seconds is not None:
        in_tol = _dist(F.col(col), ts_col) <= F.lit(int(tolerance_seconds * 1_000_000))
        picked = picked.withColumn(col, F.when(in_tol, F.col(col)))
    if how == "inner":
        picked = picked.filter(F.col(col).isNotNull())
    return _emit(picked, col, entity_col, payload, keep_spine_ts)


def asof_join_nearest_banded(
    spine: DataFrame,
    features: DataFrame,
    tolerance_seconds: float,
    entity_col: str = ENTITY_COL,
    ts_col: str = TIMESTAMP_COL,
    keep_spine_ts: bool = False,
    how: str = "inner",
) -> DataFrame:
    """``asof_join_nearest`` through the banded plan — the HOT-ENTITY
    variant. The union strategy's per-entity window serializes one
    entity into one task; here everything shuffles on
    ``(entity, floor(ts / tolerance))``, so a hot entity's task is
    bounded by one tolerance-width of history.

    Plan: the same two carries as ``asof_join_nearest``, but
    partitioned per (entity, bucket); candidates that live in the
    ADJACENT bucket are supplied by a per-bucket boundary table (each
    bucket's first/last feature row under the carries' exact tie
    orders — a partial-agg min_by/max_by, skew-immune) joined back onto
    the spine rows. Any in-tolerance candidate is in the spine row's own
    or adjacent bucket (bucket width == tolerance), so
    coalesce(in-bucket carry, neighbor boundary row) is the true
    per-side nearest; per-side tolerance filtering equals the union
    plan's post-hoc filter because each side's candidate is its minimum.
    Per-task work is O((features + spine rows in bucket) log) — no
    spine-x-feature pair formation. (The round-3 first formulation
    materialized the in-band pairs and min_by-reduced them; fine for
    sparse spines, but a dense spine on a hot entity made it quadratic
    per bucket — tools/skew_smoke.py measured 245 s vs the union plan's
    12.7 s on the 64x hot key, so it was replaced with this carry
    design.) Property-tested equal to ``asof_join_nearest`` with the
    same tolerance. Requires an explicit tolerance: an unbounded
    nearest has no band to bucket on (use ``asof_join_nearest``)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if tolerance_seconds is None or tolerance_seconds <= 0:
        raise ValueError("asof_join_nearest_banded requires tolerance_seconds > 0")
    u, payload, tb = _tagged(spine, features, entity_col, ts_col)
    band_us = int(tolerance_seconds * 1_000_000)
    u = u.withColumn("__bkt__", F.floor(F.unix_micros("__evt_ts__") / F.lit(band_us)))
    part = [entity_col, "__bkt__"]
    carried = _carry(u, part, tb, "__last_feat__")
    carried = _carry(carried, part, tb, "__fwd__", reverse=True, exact=False)
    sp = carried.filter(F.col("__is_spine__") == 1)

    # Per-bucket boundary rows under the SAME tie orders: "first" is the
    # row the forward carry would hand a spine row just before the
    # bucket (min ts, then min tb); "last" is the backward pick at the
    # bucket end (max ts, then min tb).
    ts = F.col("__evt_ts__")
    first_key = F.struct(ts) if tb is None else F.struct(ts, tb)
    bounds = (
        u.filter(F.col("__is_spine__") == 0)
        .groupBy(*part)
        .agg(
            F.min_by("__payload__", first_key).alias("__first__"),
            F.max_by("__payload__", _latest_key(ts, tb)).alias("__last__"),
        )
    )
    prev_m = bounds.select(
        F.col(entity_col),
        (F.col("__bkt__") + 1).alias("__bkt__"),
        F.col("__last__").alias("__prev_last__"),
    )
    next_m = bounds.select(
        F.col(entity_col),
        (F.col("__bkt__") - 1).alias("__bkt__"),
        F.col("__first__").alias("__next_first__"),
    )
    sp = sp.join(prev_m, part, "left").join(next_m, part, "left")

    # each side's candidate: in-bucket carry, else the neighbor's
    # boundary row, kept only within the band
    band = F.lit(band_us)
    back = F.coalesce(F.col("__last_feat__"), F.col("__prev_last__"))
    fwd = F.coalesce(F.col("__fwd__"), F.col("__next_first__"))
    sp = sp.withColumn("__bc__", F.when(_dist(back, ts_col) <= band, back))
    sp = sp.withColumn("__fc__", F.when(_dist(fwd, ts_col) <= band, fwd))
    picked = sp.withColumn(
        "__near__", _nearer(F.col("__bc__"), F.col("__fc__"), ts_col)
    )
    if how == "inner":
        picked = picked.filter(F.col("__near__").isNotNull())
    return _emit(picked, "__near__", entity_col, payload, keep_spine_ts)
