"""Point-in-time (PIT) primitives: temporal filter, entity filter, latest-per-entity.

These are the building blocks of the reference's ``get`` pipeline
(reference: src/ml_feature_store/store.py:218-259 composes them at 243-253),
re-expressed as lazy DataFrame transformations so Catalyst can push the
predicates into the Parquet scan and prune columns.

Scale notes
-----------
* ``temporal_filter`` / ``entity_filter`` are pure predicates — they reach the
  scan as PushedFilters (row-group + partition pruning at 100 TB).
* ``latest_per_entity`` is the one shuffle:
  ``groupBy(entity).agg(max_by(struct(*), _latest_key))`` — a hash aggregate
  with *map-side partial aggregation*, so the shuffle carries at most one
  row per (entity, map-partition) instead of the whole table. This is what
  survives 100x scale-up.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ENTITY_COL = "entity_id"
TIMESTAMP_COL = "timestamp"
ROW_ID_COL = "__row_id__"


RAW_NS_COL = "__ts_ns__"


def temporal_filter(df: DataFrame, cutoff: Any, ts_col: str = TIMESTAMP_COL) -> DataFrame:
    """Rows with ``ts_col <= cutoff`` (inclusive — reference store.py:500).

    ``cutoff`` may be a datetime, ISO string, or Column. The predicate is a
    simple comparison that Catalyst pushes into the scan.

    Pushdown through monotonic transforms: when the frame carries a raw
    epoch-nanos column (``__ts_ns__``, produced by the testdata loader
    because Spark can't scan TIMESTAMP(NANOS) parquet natively), the
    converted ``ts_col`` is a *derived expression* and its predicate cannot
    reach the parquet scan. Since the ns->us conversion is monotonic,
    ``floor(ns/1000) <= C_us  <=>  ns < (C_us+1)*1000``, so we add the
    equivalent raw-column predicate — THAT one is pushable (row-group
    pruning at scale). The derived predicate stays as the source of truth.
    """
    cut = cutoff if isinstance(cutoff, Column) else F.lit(cutoff).cast("timestamp")
    out = df.filter(F.col(ts_col) <= cut)
    if RAW_NS_COL in df.columns and not isinstance(cutoff, Column):
        out = out.filter(F.col(RAW_NS_COL) < (F.unix_micros(cut) + 1) * F.lit(1000))
    return out


def entity_filter(
    df: DataFrame,
    entity_ids: Sequence[Any] | DataFrame,
    entity_col: str = ENTITY_COL,
    broadcast_threshold: int = 10_000,
) -> DataFrame:
    """Keep rows whose entity id is in the requested set (reference store.py:502-514).

    Small literal lists become an ``IN`` predicate (pushed to the scan);
    large lists / DataFrames become a *broadcast left-semi join* so we never
    ship a huge IN-list through the plan or shuffle the fact table.
    """
    if isinstance(entity_ids, DataFrame):
        ids_df = entity_ids.select(F.col(entity_ids.columns[0]).alias(entity_col)).dropDuplicates()
        return df.join(F.broadcast(ids_df), on=entity_col, how="left_semi")
    ids = list(entity_ids)
    if len(ids) <= broadcast_threshold:
        return df.filter(F.col(entity_col).isin(ids))
    spark = df.sparkSession
    ids_df = spark.createDataFrame([(i,) for i in ids], [entity_col]).dropDuplicates()
    return df.join(F.broadcast(ids_df), on=entity_col, how="left_semi")


def _latest_key(ts: Column, tiebreak: Column | None = None) -> Column:
    """The ``max_by`` key of "the latest row": max ``ts`` wins, then the
    MIN ``tiebreak`` among tied timestamps (stable sort then first max
    occurrence == smallest input row id, SURVEY §2.3#2). Struct comparison
    is lexicographic, so ``struct(ts, -tiebreak)`` orders exactly that way.
    The as-of joins' per-bucket picks share it (operators/asof.py)."""
    fields = [ts.alias("_t")]
    if tiebreak is not None:
        fields.append((-tiebreak).alias("_n"))
    return F.struct(*fields)


def latest_per_entity(
    df: DataFrame,
    entity_col: str = ENTITY_COL,
    ts_col: str = TIMESTAMP_COL,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One row per entity: the row with the maximum timestamp.

    This is the leakage-prevention primitive (reference store.py:516-530,
    ``groupby().idxmax()``). Tie-break parity with the reference: among
    tied timestamps the smallest ``tiebreak_col`` (default ``__row_id__``
    when present) wins — see :func:`_latest_key`. Partial aggregation makes
    the ``max_by`` scale.
    """
    cols = df.columns
    tb = tiebreak_col if tiebreak_col in cols else (ROW_ID_COL if ROW_ID_COL in cols else None)
    payload = [c for c in cols if c != entity_col]
    key = _latest_key(F.col(ts_col), F.col(tb) if tb else None)
    best = F.max_by(F.struct(*[F.col(c) for c in payload]), key).alias("_best")
    out = df.groupBy(entity_col).agg(best)
    return out.select(entity_col, *[F.col(f"_best.{c}").alias(c) for c in payload])


def project(
    df: DataFrame,
    columns: Sequence[str] | None,
    required: Sequence[str] = (ENTITY_COL, TIMESTAMP_COL),
) -> DataFrame:
    """Column projection that always retains the required columns
    (reference store.py:250-253). Validation of the requested names happens
    in the store layer; this is the pure plan transformation."""
    if columns is None:
        return df.drop(ROW_ID_COL) if ROW_ID_COL in df.columns else df
    keep = list(required) + [c for c in columns if c not in required]
    return df.select(*keep)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Generalization of latest-per-entity to top-k per group (rank <= k).

    Uses ``row_number`` over a partitioned window; at scale prefer filtering
    with a pre-aggregated threshold when k is small relative to group size.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    rn = "__rn__"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k).drop(rn)
