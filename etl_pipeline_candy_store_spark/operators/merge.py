"""MERGE / upsert and SCD2 history — emulated relationally (Delta/Iceberg
jars are not in this image; on a lakehouse table these become MERGE INTO,
with identical semantics).

- ``merge_upsert``: target ⟕ updates by key → updated rows replace,
  new rows append, untouched rows pass through. One anti-join + union —
  a single shuffle on the key.
- ``merge_sum``: add a batch's integer partial aggregates into a
  maintained target (the count-merge of the streaming twins).
- ``scd2_from_events``: collapse a change stream into type-2 dimension
  history (valid_from / valid_to / is_current) with one window pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_upsert(target: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """UPSERT semantics: rows of ``updates`` win on key collision;
    ``target`` rows without a matching update pass through unchanged.
    Columns must align (unionByName)."""
    keys = list(keys)
    untouched = target.join(updates.select(*keys), keys, "left_anti")
    return untouched.unionByName(updates)


def merge_sum(
    target: DataFrame | None, partials: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Additive merge: per key, ``target`` + ``partials`` summed in every
    non-key column, each a long count (``partials`` alone when there is
    no target yet). Integer addition, so the result is independent of
    arrival order and batch split."""
    if target is None:
        return partials
    sums = [F.sum(c).cast("long").alias(c) for c in partials.columns if c not in keys]
    return target.unionByName(partials).groupBy(*keys).agg(*sums)


def scd2_from_events(
    changes: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Build SCD2 history from a change stream: one row per (key,
    version) with ``valid_from`` = change time, ``valid_to`` = next
    change time (null while current), ``is_current`` flag.

    Consecutive duplicate attribute values are collapsed (a change event
    that changes nothing opens no version)."""
    keys = list(keys)
    attr_cols = list(attr_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    # a version opens on the first row per key or when the attr tuple differs
    attr_tuple = F.concat_ws("\x00", *[F.col(c).cast("string") for c in attr_cols])
    changed = changes.select(*keys, ts_col, *attr_cols).select(
        "*",
        F.when(
            F.lag(attr_tuple).over(w).isNull() | (attr_tuple != F.lag(attr_tuple).over(w)),
            1,
        )
        .otherwise(0)
        .alias("_is_change"),
    )
    versions = changed.filter(F.col("_is_change") == 1).drop("_is_change")
    w2 = Window.partitionBy(*keys).orderBy(ts_col)
    return versions.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.when(F.lead(ts_col).over(w2).isNull(), 1).otherwise(0).alias("is_current"),
    )
