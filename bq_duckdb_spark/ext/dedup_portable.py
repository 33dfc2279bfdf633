"""Portable-hash twins of the LSH dedup operators — every stage
reproducible in any SQL engine, so the full banding pipelines carry
value-level DuckDB oracles.

The production paths (ext/dedup.py) hash with JVM xxhash64 — fast, but
no other engine computes it, so those contract entries are rows-only.
These twins swap ONLY the hash family: a char-polynomial
``h = (h*131 + code) mod P`` (P = 2^31 - 1) and universal permutations
``(a*h + b) mod P`` — plain 64-bit integer arithmetic every engine
evaluates identically (products stay < 2^62). Banding, bucketing,
pair expansion, and verification semantics are IDENTICAL to the
production operators (both bucket through operators/buckets.py), which
is exactly what the oracles then prove.

Use the xxhash64 operators in production (stronger hashes, codegen'd);
use these when cross-engine reproducibility of the candidate set is the
requirement (e.g. auditing a dedup run from another stack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bq_duckdb_spark.ext.dedup import (
    _id_pair,
    _minhash_coeffs,
    blocked_pairs_from_fp,
    widen_small_scan,
)
from bq_duckdb_spark.operators.buckets import bucket_pairs

P = 2147483647  # Mersenne prime 2^31 - 1


def poly_hash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """The dedup LCG coefficients reduced mod P (a forced nonzero)."""
    a64, b64 = _minhash_coeffs(num_hashes)
    return [a % P or 1 for a in a64], [b % P for b in b64]


# --- engine-neutral expression builders ------------------------------------
# Each takes the target engine's function names so the Spark operator and
# the DuckDB oracle are generated from ONE definition of the arithmetic —
# any drift between them would be a bug in exactly one place.


def char_poly_expr(s: str, engine: str) -> str:
    """Polynomial hash of a string's characters."""
    if engine == "spark":
        return (
            f"aggregate(split({s}, ''), CAST(0 AS BIGINT), "
            f"(h, c) -> (h * 131 + ascii(c)) % {P})"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s}) + 1), "
        f"i -> CAST(unicode(substr({s}, i, 1)) AS BIGINT))), "
        f"(h, c) -> (h * 131 + c) % {P})"
    )


def grams_expr(
    text_col: str, k: int, engine: str, tokens: str | None = None
) -> str:
    """Token k-gram strings (whole doc if shorter than k tokens).

    ``tokens``: a MATERIALIZED token-array column to build from instead
    of splitting ``text_col`` inline. Inlining the split means every
    `slice(split(..))` inside the transform lambda re-runs the
    tokenizer once per k-gram — O(tokens²) per document (measured 10x
    on the Spark bigram builder; on DuckDB a single 185 KB / 33k-token
    document costs minutes of regexp re-scans, the round-6 hostile-
    corpus oracle-timeout root cause); callers on any non-trivial
    corpus materialize the array once and pass its name here."""
    if engine == "spark":
        toks = tokens or f"split(trim({text_col}), '\\\\s+')"
        return (
            f"CASE WHEN size({toks}) < {k} THEN array(concat_ws(' ', {toks})) "
            f"ELSE transform(sequence(0, size({toks}) - {k}), "
            f"i -> concat_ws(' ', slice({toks}, i + 1, {k}))) END"
        )
    if tokens is None:
        # the indexed-concat form below references ``toks`` k times per
        # gram: inlining the regexp split here would tokenize the whole
        # document k times per gram — k x the O(tokens x doc_len)
        # blow-up this builder exists to avoid. Refuse loudly.
        raise ValueError(
            "grams_expr(engine='duckdb') requires a materialized tokens "
            "column — tokenize once into a CTE and pass its name"
        )
    toks = tokens
    # join the k tokens by INDEXED access, not array_to_string over
    # list_slice: DuckDB's list_slice inside a lambda copies the whole
    # outer list per invocation — O(tokens²) per document, 127 s vs
    # 0.2 s measured on a 7.5k-doc corpus with 33k-token documents
    cat = " || ' ' || ".join(f"{toks}[i + {j}]" if j else f"{toks}[i]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) < {k} THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> {cat}) END"
    )


def perm_min_expr(sh: str, a: int, b: int, engine: str) -> str:
    """min over shingle hashes of the universal permutation (a*h+b) mod P."""
    fn = ("array_min", "transform") if engine == "spark" else ("list_min", "list_transform")
    return f"{fn[0]}({fn[1]}({sh}, h -> ({a} * h + {b}) % {P}))"


def band_bucket_expr(sh: str, a: list[int], b: list[int], engine: str) -> str:
    """Fold a band's permutation minima into one bucket id:
    acc = (acc * 131 + min_j) mod P."""
    acc = perm_min_expr(sh, a[0], b[0], engine)
    for j in range(1, len(a)):
        acc = f"(({acc}) * 131 + {perm_min_expr(sh, a[j], b[j], engine)}) % {P}"
    return acc


def simhash_expr(th: str, nbits: int, engine: str) -> str:
    """Majority-vote fingerprint over token hashes' low ``nbits`` bits."""
    if engine == "spark":
        return (
            f"aggregate(transform(sequence(0, {nbits - 1}), "
            f"b -> IF(2 * size(filter({th}, h -> ((h >> b) & 1) = 1)) > size({th}), "
            f"shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    return (
        f"list_sum(list_transform(range(0, {nbits}), "
        f"b -> CASE WHEN 2 * len(list_filter({th}, h -> ((h >> b) & 1) = 1)) "
        f"> len({th}) THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))"
    )


# --- Spark operators --------------------------------------------------------


def _with_poly_shingle_hashes(
    df: DataFrame, text_col: str, k: int, out: str
) -> DataFrame:
    # tokenize ONCE into a named column: grams_expr's lambda then
    # slices an attribute, not a re-inlined split (see grams_expr)
    g = grams_expr(text_col, k, "spark", tokens="__ptoks")
    # NULL-text rows dropped — no shingle set, no banding (see
    # dedup._with_shingle_hashes; gen_fuzz finding)
    return (
        df.where(F.col(text_col).isNotNull())
        .withColumn("__ptoks", F.expr(f"split(trim({text_col}), '\\\\s+')"))
        .withColumn(
            out,
            F.expr(
                f"array_distinct(transform({g}, s -> {char_poly_expr('s', 'spark')}))"
            ),
        )
        .drop("__ptoks")
    )


def portable_minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash+LSH banding candidates, portable-hash family. Same scale
    shape as dedup.minhash_candidate_pairs: the capped bucket self-join
    on (band, bucket) (operators/buckets.py), then distinct."""
    sh = _with_poly_shingle_hashes(widen_small_scan(df), text_col, shingle_k, "__sh")
    return _minhash_pairs_from_shingles(
        sh, id_col, num_hashes, bands, max_bucket, sh_col="__sh"
    )


def _minhash_pairs_from_shingles(
    sh_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int,
    sh_col: str = "__sh",
) -> DataFrame:
    """Banding + in-bucket pair expansion over an ALREADY-hashed shingle
    frame ``(id_col, sh_col)`` — split out so _candidate_shingle_pairs
    can band and verify from ONE shingle pass instead of re-tokenizing
    the corpus per consumer."""
    a, b = poly_hash_coeffs(num_hashes)
    rows = num_hashes // bands
    buckets = ", ".join(
        f"named_struct('band', {i}, 'bucket', "
        f"{band_bucket_expr(sh_col, a[i * rows:(i + 1) * rows], b[i * rows:(i + 1) * rows], 'spark')})"
        for i in range(bands)
    )
    banded = sh_df.select(
        # _outer: plain explode would inline all 32 perm-min scans into an
        # inferred pre-Generate filter, tripling the dominant cost (see
        # ext/dedup.py banding comment)
        id_col, F.explode_outer(F.expr(f"array({buckets})")).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    return (
        bucket_pairs(banded, ["band", "bucket"], id_col, max_bucket, _id_pair)
        .select("id_a", "id_b")
        .distinct()
    )


def _candidate_shingle_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b) for every portable-LSH candidate pair —
    the shared verify feeding both the Jaccard and containment twins.

    The shingle table is hashed ONCE into a lazily localCheckpointed
    proxy (guide §8: compute the lightweight artifact one time, reuse it
    everywhere): the banding, the a-side and the b-side verify all read
    the same materialized ``(id, sh)`` — the previous shape re-tokenized
    and re-hashed the whole corpus a second time for the verify and then
    sort-aggregated exploded member rows carrying full shingle arrays
    (SortAggregate over max(array) — measured in plans/r11/
    text_containment_before.txt). Two hash joins replace that explode +
    array-sort shuffle."""
    df = widen_small_scan(df)
    sh = (
        _with_poly_shingle_hashes(df, text_col, shingle_k, "sh")
        .select(F.col(id_col).alias("__id"), "sh")
        .localCheckpoint(eager=False)
    )
    cands = _minhash_pairs_from_shingles(
        sh, "__id", num_hashes, bands, max_bucket, sh_col="sh"
    )
    return (
        cands.join(
            sh.select(F.col("__id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("__id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .select("id_a", "id_b", "sh_a", "sh_b")
    )


def portable_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over portable-minhash candidates (long-format
    single-join verify, as in dedup.ngram_jaccard_pairs)."""
    return (
        _candidate_shingle_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket
        )
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def portable_simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    nbits: int = 28,
    chunks: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs, portable-hash family: ``nbits``-bit
    fingerprint banded by :func:`dedup.blocked_pairs_from_fp`.
    ``chunks=4`` is the classic one-clean-chunk scheme (7-bit keys at 28
    bits — tiny bucket space, fine for modest corpora); ``chunks=6``
    bands every 3-block combination (C(6,3)=20 bands, ~14-bit packed
    keys) — the precise scheme whose candidates stay ~linear in corpus
    size (see the banding notes in ext/dedup.py). Trailing DISTINCT
    (not the first-clean-band rule) so the DuckDB oracle mirrors as a
    plain DISTINCT over all band joins."""
    th = f"transform(split(trim({text_col}), '\\\\s+'), t -> {char_poly_expr('t', 'spark')})"
    fp = simhash_expr("__th", nbits, "spark")
    sh = (
        widen_small_scan(df).withColumn("__th", F.expr(th))
        .withColumn("simhash", F.expr(fp))
        .select(id_col, "simhash")
    )
    return blocked_pairs_from_fp(
        sh, id_col, nbits, max_hamming, chunks, max_bucket, emit="distinct"
    )


def banded_with_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_id: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Long-format LSH banding that carries the shingle set alongside:
    ``(out_id, __sh_<out_id>, band, bucket)`` — one row per (doc, band).
    Entirely map-side (shingle hash, permutations, band buckets,
    explode), so it applies unchanged to a STREAMING frame — the
    building block both cross_corpus_near_dups and
    streaming.stream_near_dup_probe share."""
    a, b = poly_hash_coeffs(num_hashes)
    rows = num_hashes // bands
    buckets = ", ".join(
        f"named_struct('band', {i}, 'bucket', "
        f"{band_bucket_expr('__sh', a[i * rows:(i + 1) * rows], b[i * rows:(i + 1) * rows], 'spark')})"
        for i in range(bands)
    )
    sh = _with_poly_shingle_hashes(df, text_col, shingle_k, "__sh")
    return sh.select(
        F.col(id_col).alias(out_id),
        F.col("__sh").alias(f"__sh_{out_id}"),
        F.explode_outer(F.expr(f"array({buckets})")).alias("bb"),
    ).select(out_id, f"__sh_{out_id}", "bb.band", "bb.bucket")


def cross_corpus_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental-ingestion dedup: near-dup pairs between an existing
    CORPUS and an incoming BATCH (the shard being considered for
    ingestion), portable-hash family.

    Scale shape — the corpus NEVER shuffles: the batch's banded buckets
    (and, for the verify, its shingle sets) are broadcast, so candidate
    generation is a map-side hash probe of the corpus scan, and the only
    shuffles move candidate pairs (batch-bounded). This is the shape an
    ingestion pipeline needs at 100 TB: per arriving shard, one pass
    over the corpus — or, with the banded corpus written partitioned by
    (band, bucket) at rest (see operators/skew.py bucketing and the ANN
    index writers), a pruned read of only the probed buckets.

    Output: (corpus_id, batch_id, jaccard >= threshold).
    """
    # widen is metadata-only and a no-op at scale, so "the corpus never
    # shuffles" still holds where it matters; at tiny SF the round-robin
    # exchange restores parallelism for the poly-hash stage
    cb = banded_with_shingles(
        widen_small_scan(corpus), text_col, id_col, "corpus_id",
        num_hashes, bands, shingle_k,
    )
    # batch side carries its shingle set through the broadcast so the
    # verify needs no second pass over anything corpus-sized
    bb = banded_with_shingles(
        batch, text_col, id_col, "batch_id", num_hashes, bands, shingle_k
    )
    return banded_pair_verify(cb, bb, threshold)


def banded_pair_verify(
    cb: DataFrame,
    bb: DataFrame,
    threshold: float,
    a_id: str = "corpus_id",
    b_id: str = "batch_id",
) -> DataFrame:
    """Probe + verify between two ``banded_with_shingles`` frames: the
    (broadcast) b-side buckets hash-probe the a-side scan, then exact
    Jaccard on the carried shingle sets keeps pairs >= threshold.
    Shared by cross_corpus_near_dups and the streaming incremental
    dedup writer (which keeps the a-side PRE-BANDED at rest — the
    banded-corpus-at-rest design the batch operator's docstring
    describes)."""
    cands = cb.join(F.broadcast(bb), ["band", "bucket"]).select(
        a_id, b_id, f"__sh_{a_id}", f"__sh_{b_id}"
    )
    return (
        cands.groupBy(a_id, b_id)
        .agg(
            F.first(f"__sh_{a_id}").alias("sh_a"),
            F.first(f"__sh_{b_id}").alias("sh_b"),
        )
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a_id, b_id, "jaccard")
    )


def portable_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over portable-minhash candidates:
    |A∩B|/|A| and |A∩B|/|B| per pair, kept when either side is mostly
    contained in the other.

    Containment is the quote / subset-duplication detector Jaccard
    misses: a short doc pasted into a long one has tiny Jaccard (the
    union is dominated by the long doc) but containment ≈ 1 on the
    short side — exactly what a training-data pipeline must catch to
    avoid leaking a benchmark passage embedded in a web page.

    Shares :func:`_candidate_shingle_pairs` with the Jaccard twin; the
    asymmetric ratios are row-local arithmetic on top.
    """
    return (
        _candidate_shingle_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket
        )
        .withColumn(
            "containment_a",
            F.expr("size(array_intersect(sh_a, sh_b)) / size(sh_a)"),
        )
        .withColumn(
            "containment_b",
            F.expr("size(array_intersect(sh_a, sh_b)) / size(sh_b)"),
        )
        .filter(F.greatest("containment_a", "containment_b") >= threshold)
        .select("id_a", "id_b", "containment_a", "containment_b")
    )
