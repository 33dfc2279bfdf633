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
- candidates come from ONE shuffle on ``xxhash64(variant)`` into
  per-variant id lists with pairs expanded in-bucket — never an
  all-pairs join, never a cartesian (a 64-bit hash collision between
  different variants can only ADD candidates, which the exact verify
  then rejects);
- pathological variants (huge exact-duplicate groups: every copy shares
  every variant) are deterministically capped at ``max_bucket`` ids —
  run exact dedup first, as with MinHash, so identical strings don't
  form quadratic buckets;
- verification cost is one ``levenshtein`` per distinct candidate pair.

Reference parity: the reference engine (alexchoi0/bq-duckdb) exposes no
fuzzy join; this is part of the beyond-reference entity-resolution /
data-cleaning suite (SURVEY.md §2 "+" rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.ext.dedup import _bucket_pairs_expr, widen_small_scan


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
    # Pin the bucket exchange's parallelism (round-10 stage profile:
    # AQE coalesced it to 4 tasks on byte size, serializing the
    # compute-dense in-bucket pair expansion + levenshtein verify that
    # pipeline on top of it). repartition(n, vh) is the partitioning the
    # groupBy requires, so it replaces the ENSURE_REQUIREMENTS exchange;
    # nothing is lost map-side because collect_list partials do not
    # shrink data anyway. REPARTITION_BY_NUM is exempt from AQE
    # coalescing; default n = cluster parallelism.
    npart = df.sparkSession.sparkContext.defaultParallelism
    bucketed = (
        variants.repartition(npart, "vh")
        .groupBy("vh")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("fz_id").alias("id"), F.col("fz_s").alias("s"))
                    )
                ),
                1,
                max_bucket,
            ).alias("xs")
        )
        .filter(F.size("xs") > 1)
    )
    pairs = (
        bucketed.select(
            F.explode_outer(F.expr(_bucket_pairs_expr("xs", "a", "b"))).alias("p")
        )
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.a.s").alias("s_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.b.s").alias("s_b"),
        )
        # a pair sharing several variants (always ≥1, often 2-3) is
        # emitted once per shared variant: dedup on the pair key before
        # paying the levenshtein verify
        .distinct()
    )
    return pairs.where(F.levenshtein("s_a", "s_b") <= 1)
