"""Total-order helpers that avoid ``orderBy``'s hidden double execution.

``df.orderBy(...)`` inserts a range exchange whose ``RangePartitioner``
first runs a *sampling job over the child plan* to pick partition bounds,
then runs the child again for the real shuffle.  When the child is an
aggregate or a window pipeline, the whole thing executes twice — measured
≈+60 ms on a 5-group aggregate at sf0.1, and far worse when the child is a
full window stage.

Two cheaper shapes, used throughout the operators:

- :func:`small_sorted` — for results bounded by a low-cardinality group
  key (report-style output: ≤ a few thousand rows).  ``coalesce(1)``
  collapses only the post-shuffle stage (map-side partial aggregation
  stays fully parallel), and a partition-local sort of the tiny result
  yields total order in ONE pass with no sampler.  NOT for large results
  and not directly above heavy per-row compute — ``coalesce`` would
  serialize it.  In a SQL text the same shape is a
  ``SELECT /*+ COALESCE(1) */ ...`` with ``SORT BY`` keys.
- pre-shuffle ``repartitionByRange(keys).….sortWithinPartitions(keys)`` —
  for window/agg pipelines with large output (see ``order_brand_sets``):
  one range exchange on the *raw input* satisfies the downstream
  clustering requirement AND the global order; the sampler touches only
  the narrow scan, never the expensive stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def small_sorted(df: DataFrame, *cols) -> DataFrame:
    """Globally-ordered small result in one pass (see module docstring)."""
    return df.coalesce(1).sortWithinPartitions(*cols)
