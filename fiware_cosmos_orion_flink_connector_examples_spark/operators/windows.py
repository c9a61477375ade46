"""Sliding time-window aggregation — the reference's core operator.

Reference semantics (Flink, processing time, 1.9 default):
  ``.keyBy("id").timeWindow(Time.seconds(5), Time.seconds(2)).min("temperature")``
  (Example1.scala:26-28; same shape Example2/3/4/5).  Each record lands
  in ceil(size/slide) overlapping epoch-aligned windows; the aggregate
  folds incrementally per window (partial+final, exactly Spark's
  hash-agg contract — AverageAggregate.add/merge, Example4.scala:42-48).

Spark mapping: ``F.window(ts, size, slide)`` expands each row into its
overlapping windows *before* the hash aggregate, so map-side partial
aggregation still applies — the shuffle moves one partial row per
(key, window, partition), not raw rows.  That is the property that
keeps this viable at 100 TB: shuffle volume is bounded by key/window
cardinality, not input cardinality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    aggs: Sequence[Column],
    size: str = "5 seconds",
    slide: str = "2 seconds",
) -> DataFrame:
    """Keyed sliding-window aggregation (O4+O5+O6/O7).

    ``aggs`` are aliased aggregate Columns, e.g. ``F.min("value").alias("min_value")``.
    Returns window_start (epoch seconds BIGINT, for stable
    cross-engine comparison) + keys + aggregates.
    """
    w = F.window(ts_col, size, slide).alias("w")
    out = df.groupBy(w, *key_cols).agg(*aggs)
    return out.select(F.col("w.start").cast("long").alias("window_start"), *key_cols, *[c for c in out.columns if c not in {"w", *key_cols}])


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    aggs: Sequence[Column],
    size: str = "1 hour",
) -> DataFrame:
    """Tumbling-window variant (slide == size); not in the reference but
    the degenerate case of O5 and the cheapest rollup at scale."""
    return sliding_window_agg(df, ts_col, key_cols, aggs, size=size, slide=size)
