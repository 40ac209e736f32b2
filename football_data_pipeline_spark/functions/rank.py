"""The engine's one ranking rule: keep one row per key, or cut to the
first k rows of a total order.

Every keep-one-row-per-key and every top-k cut in the engine goes
through the two functions here:

- ``first_per_key`` — the reference view's ``ROW_NUMBER() OVER
  (PARTITION BY fixture_id ORDER BY collected_at DESC) = 1``
  (/root/reference/database_schema.sql:163, SURVEY W1/J3) and the
  INSERT OR REPLACE / INSERT OR IGNORE upserts (U1/U2,
  ``operators/upsert.py``). Its row-number column is private and
  dropped, so a caller's own ``rank`` column passes through untouched.
- ``top_k`` — the retrieval, ANN, mining, sampling and profiling
  cuts; it adds a 1-based int ``rank`` column.

The order must be total (end it on a unique column): a partial order
lets the surviving row depend on the partitioning, and the oracle
compare on the engine. Two plan disciplines, asserted in
tests/test_rank.py:

- per group (``by``): the ``rank <= k`` / ``= 1`` filter sits directly
  above the window, so Catalyst plans a ``WindowGroupLimit`` that keeps
  k rows per group in each sort task before the window runs;
- global (no ``by``): the cut runs FIRST as ``orderBy + limit``
  (TakeOrderedAndProject: per-partition heaps of size k, so no global
  sort of the scored table and no single-task funnel when one common
  term matches a corpus-sized doc set), THEN the rank window runs over
  the ≤k survivors only (VERDICT r10 item 1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_per_key(df: DataFrame, keys: Sequence[str], order: Sequence[Column | str]) -> DataFrame:
    """The first row per ``keys`` in ``order`` (Column orders, so asc,
    desc and ``desc_nulls_last`` all work; a bare name sorts asc)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def top_k(
    df: DataFrame, k: int, order: Sequence[Column | str], by: Sequence[str] = ()
) -> DataFrame:
    """The first ``k`` rows in ``order`` — per ``by`` group when given,
    else overall — with a 1-based ``rank`` column."""
    w = Window.partitionBy(*by).orderBy(*order)
    cut = df if by else df.orderBy(*order).limit(k)
    ranked = cut.withColumn("rank", F.row_number().over(w))
    return ranked.filter(F.col("rank") <= k) if by else ranked
