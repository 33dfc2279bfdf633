"""Fuzzy string matching: edit-distance-1 similarity join via deletion
neighborhoods (the FastSS / SymSpell blocking scheme, public domain).

Two strings are within Levenshtein distance 1 only if their 1-deletion
neighborhoods — the string itself plus every string obtainable by
deleting one character — intersect: an equal pair shares the string
itself, a substitution pair shares the variant with the differing
position deleted from both sides, and an insertion pair shares the
shorter string (delete the inserted char from the longer). The
intersection test is necessary but NOT sufficient (``"ab"``/``"ba"``
share ``{"a","b"}`` at distance 2), so shared-variant candidates are
verified with the exact ``levenshtein()`` built-in.

Scale design (mirrors the MinHash banding path in ext/dedup.py):
- variant generation is map-only whole-stage-codegen (``transform`` over
  a ``sequence``), |s|+1 rows per string — linear in corpus bytes, no
  Python anywhere;
- candidates come from ONE shuffle on ``xxhash64(variant)`` through
  the capped bucket self-join (operators/buckets.py: ``max_bucket``
  cap, in-bucket pair expansion) — never an all-pairs
  join, never a cartesian (a 64-bit hash collision between different
  variants can only ADD candidates, which the exact verify then
  rejects); run exact dedup first, as with MinHash, so huge
  exact-duplicate groups (every copy shares every variant) don't fill
  buckets up to the cap;
- verification cost is one ``levenshtein`` per distinct candidate pair.

Reference parity: the reference engine (alexchoi0/bq-duckdb) exposes no
fuzzy join; this is part of the beyond-reference entity-resolution /
data-cleaning suite (SURVEY.md §2 "+" rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.ext.dedup import widen_small_scan
from bq_duckdb_spark.operators.buckets import bucket_pairs


def deletion_variants_expr(col: str) -> str:
    """SQL expression: array of ``col`` plus its |s| one-char-deletion
    variants, deduplicated (deleting either char of a double letter
    yields the same variant). Pure codegen — no UDF."""
    return (
        f"CASE WHEN length({col}) = 0 THEN array({col}) ELSE "
        f"array_distinct(concat(array({col}), "
        f"transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1))))) "
        f"END"
    )


def fuzzy_pairs_d1(
    df: DataFrame,
    str_col: str,
    id_col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """All pairs of rows whose ``str_col`` values are within Levenshtein
    distance 1 (including exact duplicates, distance 0).

    Output: ``(id_a, s_a, id_b, s_b)`` with ``id_a < id_b``, one row per
    pair. The strings ride inside the bucket structs so the verify stage
    needs no join back to the corpus (names/keys are short; for long
    strings join the ids back instead).
    """
    base = (
        widen_small_scan(df)
        .where(F.col(str_col).isNotNull())
        .select(F.col(id_col).alias("fz_id"), F.col(str_col).alias("fz_s"))
    )
    # explode_outer, not explode: InferFiltersFromGenerate would inline
    # the variant expression three times (see the banding comment in
    # ext/dedup.py); the array is never null/empty for non-null input
    variants = base.select(
        "fz_id",
        "fz_s",
        F.explode_outer(F.expr(deletion_variants_expr("fz_s"))).alias("fz_v"),
    ).select(F.xxhash64("fz_v").alias("vh"), "fz_id", "fz_s")
    pairs = (
        bucket_pairs(
            variants, ["vh"], "fz_id", max_bucket,
            lambda a, b: (
                f"named_struct('id_a', {a}.id, 's_a', {a}.fz_s, "
                f"'id_b', {b}.id, 's_b', {b}.fz_s)"
            ),
        )
        .select("id_a", "s_a", "id_b", "s_b")
        # a pair sharing several variants (always ≥1, often 2-3) is
        # emitted once per shared variant: dedup on the pair key before
        # paying the levenshtein verify
        .distinct()
    )
    return pairs.where(F.levenshtein("s_a", "s_b") <= 1)
