"""Exact set-similarity join via prefix filtering (All-Pairs /
PPJoin family: Bayardo, Ma, Srikant WWW'07; Xiao et al. WWW'08).

Every other near-dup path in this engine (MinHash banding, SimHash
pigeonhole) trades recall for speed: a pair can be MISSED when no band
collides. This operator is the exact complement — it returns EVERY
pair with shingle-set Jaccard >= t, with pruning that provably drops
nothing:

* **Prefix filter**: order each document's shingles by a shared total
  order (ascending document frequency, rarest first; hash tiebreak).
  If J(A,B) >= t, then |A∩B| >= ceil(t*|A|); if A's first
  p_A = |A| - ceil(t*|A|) + 1 shingles were all missed by B's prefix,
  the overlap would have to fit inside the suffixes, which are too
  short — so the two PREFIXES must share a shingle. Joining on prefix
  shingles therefore yields a candidate superset.
* **Length filter**: J(A,B) >= t forces t*|A| <= |B| <= |A|/t;
  applied inside the candidate join.
* **Verify**: exact Jaccard on the full shingle sets for the
  (deduplicated) candidates only.

Scale shape: one shuffle to count shingle frequencies, one per-doc
window (rank by rarity — partitioned by doc, never global), ONE
candidate shuffle on the prefix shingle, then a verify join. Ordering
by rarity keeps prefix-shingle buckets small for ordinary corpora;
note that a block of n EXACT duplicates genuinely contains C(n,2)
matching pairs, so the OUTPUT itself is quadratic in such blocks —
run exact dedup first when verbatim-copy blocks are expected (the
same advice the banded operators' max_bucket docs give).

Reference parity: the reference engine exposes only threshold'd
near-dup via sketching (see SURVEY.md §2 dedup rows); this exact
variant is part of the beyond-reference training-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bq_duckdb_spark.ext.dedup_portable import _with_poly_shingle_hashes


def exact_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold —
    exact: provably identical to the brute-force all-pairs result.

    Returns columns ``id_a, id_b, jaccard``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    # widen tiny single-file corpora before shingling (metadata-gated
    # no-op at scale, like every sibling dedup operator): the sh/prefix
    # subtree below is referenced by BOTH self-join sides and the verify,
    # and Spark plans each reference independently — an un-widened
    # single-row-group scan re-shingled the corpus 3x on ONE task each
    # (round-10 stage profile: 3 serial stages of 1.3-1.8 s)
    from bq_duckdb_spark.ext.dedup import widen_small_scan

    df = widen_small_scan(df)
    sh = _with_poly_shingle_hashes(df, text_col, shingle_k, out="sh").select(
        F.col(id_col).alias("doc"), "sh"
    )
    # computed-array explode: explode_outer per the Catalyst
    # InferFiltersFromGenerate trap (sh is never empty — grams_expr
    # emits the whole-doc gram for short docs — so no rows are lost)
    ex = sh.select("doc", F.explode_outer("sh").alias("s")).where(
        F.col("s").isNotNull()
    )

    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    byrarity = Window.partitionBy("doc").orderBy("df", "s")
    perdoc = Window.partitionBy("doc")
    # the per-doc windows and everything downstream of them pipeline on
    # one hash(doc) exchange, sized by get_spark's partitioning policy
    ranked = (
        ex.join(freq, "s")
        .withColumn("sz", F.count(F.lit(1)).over(perdoc))
        .withColumn("rk", F.row_number().over(byrarity))
    )
    # prefix length |x| - ceil(t*|x|) + 1 (ceil in double is exact for
    # the integer products that matter here: sz <= 2^52)
    prefix = ranked.where(
        F.col("rk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc", "s", "sz")

    a = prefix.select(
        F.col("doc").alias("id_a"), F.col("s").alias("s"), F.col("sz").alias("sz_a")
    )
    b = prefix.select(
        F.col("doc").alias("id_b"), F.col("s").alias("s"), F.col("sz").alias("sz_b")
    )
    cand = (
        a.join(
            b,
            (a.s == b.s)
            & (a.id_a < b.id_b)
            # length filter: t*|A| <= |B| and t*|B| <= |A|
            & (F.lit(threshold) * a.sz_a <= b.sz_b)
            & (F.lit(threshold) * b.sz_b <= a.sz_a),
        )
        .select("id_a", "id_b")
        .distinct()
    )

    sa = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sha"))
    sb = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(
        F.array_union("sha", "shb")
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
