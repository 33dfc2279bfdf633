"""Capped bucket self-join: the one primitive behind every LSH and fuzzy
candidate generator (``ext/dedup.py`` MinHash, carry-shingles Jaccard
and SimHash banding, ``ext/dedup_portable.py`` MinHash banding,
``ext/fuzzy.py`` deletion neighborhoods).

Rows are grouped on a bucket key, each bucket keeps its ``max_bucket``
smallest ids, and every in-bucket pair is expanded. That is ONE shuffle
on the key, never an all-pairs join: a plain hash exchange sized by the
session's one partitioning policy (``get_spark``), with a map-side
``WindowGroupLimit … Partial`` below it, so a degenerate bucket is
pruned before it ships. The primitive owns the two decisions those
operators share:

- **The cap.** ``row_number() <= max_bucket`` over the same key, ordered
  by id, runs BEFORE ``collect_list``, so the aggregation buffer holds at
  most ``max_bucket`` items however degenerate the bucket (a 10^9-copy
  duplicate block would otherwise build a multi-GB array in one buffer
  before a ``slice`` cap ever ran). Ids are unique per bucket and the
  items sort by id first, so the members kept are exactly the ones
  slicing the sorted full list would keep.
- **The expansion.** ``explode_outer``, never ``explode``, of the pair
  array: plain explode triggers Catalyst's InferFiltersFromGenerate,
  which inlines the generating expression twice into a pre-Generate
  filter (3x evaluation of the quadratic pair array). The ``size > 1``
  filter guarantees the array is non-empty, so ``_outer`` is
  value-identical.

Per-pair values (Jaccard, xor) are computed inside the expansion's
lambda from the caller's ``pair`` expression: building ``(a, b)``
structs that hold payload arrays would copy them into up to cap²/2 pair
rows of a full bucket.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pairs_expr(arr: str, pair: Callable[[str, str], str]) -> str:
    """SQL for every pair (x_i, x_j), i < j, of the sorted array ``arr``,
    each built by ``pair(x_i, x_j)`` from the two element expressions.
    Output size is the pair count itself, so cost matches what any
    formulation must emit."""
    return (
        f"flatten(transform(sequence(1, size({arr}) - 1), "
        f"i -> transform(slice({arr}, i + 1, size({arr}) - i), "
        f"y -> {pair(f'element_at({arr}, i)', 'y')})))"
    )


def bucket_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    max_bucket: int,
    pair: Callable[[str, str], str],
) -> DataFrame:
    """In-bucket pairs of ``df`` grouped on ``keys``: the ``keys`` columns
    plus the fields of the struct ``pair(a, b)`` builds, one row per pair
    with ``a.id < b.id``.

    ``a`` and ``b`` are structs of ``id`` (``id_col``) and every other
    non-key column of ``df``, so ``df`` should carry only the keys, the
    id and the payload the pair expression reads. Each bucket keeps its
    ``max_bucket`` smallest ids (see the module docstring for the cap
    and the expansion)."""
    payload = [c for c in df.columns if c != id_col and c not in keys]
    w = Window.partitionBy(*keys).orderBy(id_col)
    item = F.struct(F.col(id_col).alias("id"), *payload)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(item)).alias("xs"))
        .filter(F.size("xs") > 1)
        .select(*keys, F.explode_outer(F.expr(pairs_expr("xs", pair))).alias("p"))
        .select(*keys, "p.*")
    )
