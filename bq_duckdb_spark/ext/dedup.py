"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hot paths stay JVM-side (higher-order functions over token arrays,
xxhash64), so they whole-stage-codegen and scale linearly; no Python UDFs.

Scale design:
- exact dedup = hash-groupBy (one shuffle on the dedup key);
- near-dup never does an all-pairs join: MinHash banding / SimHash
  chunking bucket the corpus so candidate generation is ONE shuffle on
  (band, bucket-hash) through the capped bucket self-join
  (operators/buckets.py, which owns the ``max_bucket`` cap and the
  pair expansion; its shuffle is sized by get_spark's partitioning
  policy) — the hash/signature
  pipeline runs exactly once, and nothing is persist()ed (cached plans
  are never dropped by GC, so a long-lived server session would leak
  executor storage);
- run exact dedup first so identical docs don't form mega-buckets that
  the cap then truncates.
"""

from __future__ import annotations

import itertools
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from bq_duckdb_spark.operators.buckets import bucket_pairs

# ---------------------------------------------------------------------------
# scan-parallelism widening
# ---------------------------------------------------------------------------


def local_input_bytes(df: DataFrame, files: list[str] | None = None) -> int | None:
    """Total on-disk bytes of ``df``'s source files when every one is a
    statable LOCAL file, else None (remote object store, non-file source,
    or stat failure) — a driver-side, no-Spark-job size probe shared by
    the scan-widening and banding-scheme heuristics. None means "assume
    the at-scale path" — and an EMPTY file list means exactly that, not
    "zero bytes": checkpointed/cached/in-memory/JDBC frames have no
    input files and their size is unknowable here."""
    if files is None:
        try:
            files = df.inputFiles()
        except Exception:
            return None
    if not files:
        return None
    total = 0
    for f in files:
        if f.startswith("file:"):
            path = f[len("file://"):] if f.startswith("file://") else f[len("file:"):]
        elif "://" not in f:
            path = f
        else:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def widen_small_scan(
    df: DataFrame,
    target: int | None = None,
    max_widen_bytes: int = 256 << 20,
) -> DataFrame:
    """Restore task parallelism for tiny single-file corpora — a no-op on
    the at-scale path.

    A small corpus written as one parquet file with one row group scans
    as ONE task, which serializes the (compute-heavy) shingle/signature
    stages onto a single core; file-split tuning cannot help because
    Spark assigns a row group to the one byte-range split containing its
    midpoint. The only way to widen is a repartition — cheap here
    precisely because the corpus is tiny (the round-2 mistake was the
    opposite: probing ``df.rdd.getNumPartitions()`` per call, an RDD
    conversion, and shuffling unconditionally, which at scale shuffles
    the whole corpus).

    This version decides driver-side from file metadata only (no Spark
    job, no RDD conversion): if the scan already yields at least
    ``target`` file splits, or the source totals more than
    ``max_widen_bytes`` (scan splits then provide the parallelism and a
    shuffle would be the bottleneck), or the inputs are not local files
    we can stat, the frame is returned unchanged. Otherwise one
    round-robin repartition to ``target`` (adjacent repartitions
    collapse under Catalyst's CollapseRepartition, so composed operators
    that each widen the same source still shuffle once).
    """
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    total = local_input_bytes(df, files)
    if total is None:  # remote object store / unstatable: the scale path
        return df
    max_pb = int(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        .lower().rstrip("b")
    )
    est_splits = max(len(files), total // max_pb)
    if est_splits >= target or total > max_widen_bytes:
        return df
    # size the widened partitions by BYTES (~32 KB of compressed text
    # each), capped at the requested target: a tiny corpus split across
    # every core pays more in task scheduling than the parallelism buys
    # (measured at sf0.1/local[32]: 16 partitions beat 32 by ~40% on the
    # simhash pipeline)
    target = min(target, max(4, int(total) >> 15))
    return df.repartition(target)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct key — hash-based exact dedup.
    One shuffle on the key columns; fully parallel at any scale."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*key_cols, id_col], how="inner")


def exact_dup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per duplicate-group stats keyed by content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def _tokens_expr(text_col: str) -> str:
    return f"split(trim({text_col}), '\\\\s+')"


def _with_shingle_hashes(
    df: DataFrame, text_col: str, k: int, out: str = "__sh_hashes"
) -> DataFrame:
    """Add ``out: array<bigint>`` — the distinct token-k-gram shingle ids.

    Each shingle id is xxhash64 over the k consecutive TOKEN HASHES, not
    over the shingle string: set equality (and hence Jaccard, MinHash)
    is preserved up to 2^-64 collisions, while skipping the dominant
    cost of materializing k-gram strings (slice + concat_ws per gram in
    an interpreted lambda — 12x slower, measured). Docs shorter than k
    tokens hash as one whole-document shingle. NULL-text rows are
    DROPPED: a NULL document has no shingle set, and keeping it would
    band every NULL doc into one everything-matches bucket (gen_fuzz
    finding — 15 phantom pairs from 6 NULL docs); exact dedup is the
    operator that handles contentless rows.
    """
    df = df.where(F.col(text_col).isNotNull())
    th = f"transform(split(trim({text_col}), '\\\\s+'), t -> xxhash64(t))"
    args = ", ".join(f"element_at(__th, i + {j})" for j in range(k))
    sh = (
        f"array_distinct(CASE WHEN size(__th) < {k} THEN array(xxhash64(__th)) "
        f"ELSE transform(sequence(1, size(__th) - {k - 1}), "
        f"i -> xxhash64({args})) END)"
    )
    return (
        df.withColumn("__th", F.expr(th))
        .withColumn(out, F.expr(sh))
        .drop("__th")
    )


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash coefficients (odd multipliers +
    offsets from a fixed LCG) — stable across runs and machines."""
    a, b, state = [], [], 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
        a.append(state | 1)  # odd → bijective mod 2^64
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
        b.append(state)
    return a, b


def _minhash_sig_udf(num_hashes: int):
    """array<shingle-hash> → array<minhash_i> via vectorized universal
    hashing: sig[i] = min over shingles of (a_i * h + b_i) mod 2^64.

    The base shingle hash is one JVM-side xxhash64 pass; deriving the
    ``num_hashes`` permutations happens in numpy with natural uint64
    wraparound — one multiply-add per (shingle, seed) instead of
    ``num_hashes`` interpreted re-hashes of every shingle string.

    Why this stays a pandas UDF (measured, sf0.1 = 5k docs / 260k
    shingles, 32 seeds, best-of-3 noop writes): every "move it
    JVM-side" alternative is slower, because Spark higher-order
    functions are CodegenFallback (interpreted), ANSI mode forbids the
    wraparound ``a*h + b``, and numpy's SIMD uint64 multiply-add out-
    runs scalar JVM limb arithmetic:

    * ``transform``/``array_min`` fold with 16x32-bit limb products
      (value-identical, verified): 8.85 s single-core vs 0.50 s here —
      ~40 interpreted expr nodes per (shingle, seed); worse, Catalyst's
      CollapseProject inlines the whole fold into each of the 8 band
      ``element_at`` refs downstream, re-evaluating it 8x (full
      dedup_minhash entry 2.36 s vs 0.79 s).
    * explode + whole-stage-codegen limb columns + groupBy(min):
      1.11 s single-core — 2x slower per core than numpy AND adds a
      doc_id shuffle before the (band, bucket) shuffle.
    * ``mapInArrow`` instead of pandas_udf: 0.531 s vs 0.531 s at the
      stage level — the cost is the Python-exchange pipeline break
      itself, not pandas conversion, and it is a per-batch constant
      that amortizes at real corpus sizes.
    """
    coeffs = _minhash_coeffs(num_hashes)
    a_np: "np.ndarray" = np.array(coeffs[0], dtype=np.uint64)
    b_np: "np.ndarray" = np.array(coeffs[1], dtype=np.uint64)
    # flat-vectorized: one (total_shingles, num_hashes) multiply-add per
    # chunk + minimum.reduceat per doc — no per-row Python loop. Chunked
    # so the intermediate stays ~50 MB regardless of Arrow batch size.
    chunk_budget = 200_000

    @pandas_udf(ArrayType(LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
        )
        out = np.zeros((n, num_hashes), dtype=np.int64)
        err = np.seterr(over="ignore")
        try:
            start = 0
            while start < n:
                end = start
                tot = 0
                while end < n and (tot == 0 or tot + lens[end] <= chunk_budget):
                    tot += lens[end]
                    end += 1
                nz = np.nonzero(lens[start:end])[0] + start
                if len(nz):
                    flat = np.concatenate(
                        [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
                    ).astype(np.uint64)
                    m = flat[:, None] * a_np[None, :] + b_np[None, :]
                    offs = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
                    out[nz] = np.minimum.reduceat(m, offs, axis=0).astype(np.int64)
                start = end
        finally:
            np.seterr(**err)
        return pd.Series(list(out))

    return sig


def derive_banding(
    threshold: float,
    target_recall: float = 0.95,
    max_hashes: int = 128,
    max_rows: int = 16,
) -> tuple[int, int]:
    """(num_hashes, bands) whose LSH S-curve guarantees
    ``P(candidate | jaccard == threshold) >= target_recall``.

    The banding S-curve is ``1 - (1 - s^r)^b`` for ``r`` rows/band and
    ``b`` bands; it is monotonically increasing in s, so hitting the
    target AT the threshold bounds recall from below for every true
    pair (pairs further above the threshold collide with strictly
    higher probability — the worst-case guarantee the measured-recall
    sweep RECALL_r8.txt confirms empirically).

    Among feasible (r, b) within the ``max_hashes`` signature budget,
    the LARGEST r wins: a steeper curve admits the fewest
    below-threshold false candidates (candidate volume, not signature
    width, dominates cost at corpus scale — each band is one extra
    (band, bucket) shuffle key per doc and false candidates each cost
    an exact-verify). Then the smallest b meeting the target.

    Round-8 sweep context: the round-7 default (32 hashes, 8 bands,
    r=4) has a worst-case collision probability of only 6.3% at
    s=0.3 — its measured 89.4% hostile-corpus recall leaned entirely
    on most true pairs sitting far above the threshold. For t=0.3 this
    returns (64, 32): r=2, worst-case 95.1%.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    for r in range(min(max_rows, max_hashes), 0, -1):
        p = threshold**r
        if p >= 1.0:
            b = 1
        else:
            b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
        if r * b <= max_hashes:
            return r * b, b
    raise ValueError(
        f"no banding within {max_hashes} hashes reaches recall "
        f"{target_recall} at threshold {threshold}; raise max_hashes or "
        "use the exact set-similarity join (ext/setjoin.py)"
    )


def with_minhash_signature(
    df: DataFrame, text_col: str, num_hashes: int = 32, shingle_k: int = 3
) -> DataFrame:
    """Add ``signature: array<bigint>`` — ``num_hashes`` permutation
    minima over the document's shingle set. Shingle-id hashing is JVM
    xxhash64 over token hashes (see _with_shingle_hashes); permutations
    are flat-vectorized Arrow-batched numpy (see _minhash_sig_udf).
    Deterministic.

    No repartition here: hashing parallelism follows the parquet scan's
    file splits (maxPartitionBytes) — at corpus scale that is already
    full parallelism. Pipelines that must also handle tiny single-file
    corpora widen the scan first via :func:`widen_small_scan` (a
    metadata-only decision, no-op at scale)."""
    sig = _minhash_sig_udf(num_hashes)
    return (
        _with_shingle_hashes(df, text_col, shingle_k)
        .withColumn("signature", sig(F.col("__sh_hashes")))
        .drop("__sh_hashes")
    )


def _id_pair(a: str, b: str) -> str:
    """The ids-only pair expression for :func:`bucket_pairs`."""
    return f"named_struct('id_a', {a}.id, 'id_b', {b}.id)"


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int = 1000,
    dedup: bool = True,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands, hash each
    band, and emit candidate id-pairs that share any band bucket.

    Scale: explode is bands× row inflation; candidates come from ONE
    shuffle on (band, band_hash) through the capped bucket self-join
    (:func:`bucket_pairs`) — never an all-pairs join, and the
    signature pipeline (shingle + hash UDF) runs exactly once (a
    self-join formulation computes it once per side: Spark does not
    reuse exchanges across self-join sides here, and persist() leaks
    storage in a long-lived session). ``max_bucket`` deterministically
    caps pathological buckets (pairs grow quadratically in bucket size;
    run exact dedup first so identical docs don't form mega-buckets).
    Output: (id_a, id_b) with id_a < id_b; distinct unless ``dedup=False``
    (a pair sharing several band buckets is emitted once per shared
    band — callers whose next step is itself a groupBy on the pair key
    get deduplication for free there and skip this extra shuffle).
    """
    rows = num_hashes // bands
    sig = with_minhash_signature(
        widen_small_scan(df), text_col, num_hashes, shingle_k
    ).select(F.col(id_col), "signature")
    # explode_outer EVERYWHERE a computed array is exploded: plain
    # explode triggers Catalyst's InferFiltersFromGenerate, which inserts
    # a pre-Generate filter with the generating expression INLINED TWICE
    # (size(expr) > 0 AND isnotnull(expr)) — the whole interpreted
    # banding expression then evaluates 3x per row (measured 8x slower
    # on the shingle explode at sf0.1). The arrays here are never
    # empty/null (transform over a literal sequence), so _outer is
    # value-identical.
    # band bucket = chained xxhash64 over the band's SIGNED minima
    # (element_at refs, no string materialization): one codegen'd hash
    # per band instead of building+hashing a comma-joined string — and
    # plain 64-bit arithmetic any engine reproduces, which is what lets
    # the DuckDB oracle (ext/xx_oracles.py) value-check this entry.
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64("
        + ", ".join(
            f"element_at(signature, {b * rows + j + 1})" for j in range(rows)
        )
        + "))"
        for b in range(bands)
    )
    banded = sig.select(
        id_col,
        F.explode_outer(F.expr(f"array({band_structs})")).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    pairs = bucket_pairs(
        banded, ["band", "bucket"], id_col, max_bucket, _id_pair
    ).select("id_a", "id_b")
    return pairs.distinct() if dedup else pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    carry_shingles: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact n-gram Jaccard verification over
    MinHash-banded candidates: candidates via bucket join, then
    jaccard = |A∩B| / |A∪B| on the true shingle-id sets — only for
    co-bucketed pairs. Shingle ids are xxhash64 of the k-gram (see
    _with_shingle_hashes), so intersect/union cardinalities equal the
    string-shingle ones up to 2^-64 collisions.

    ``carry_shingles=True`` is the LOW-LATENCY SMALL-CORPUS variant: the
    shingle arrays ride through the band shuffle and pairs are verified
    inside each bucket — 2 fewer stages (no verify join, no regroup;
    measured 25% faster at sf0.1) but the dominant (band, bucket)
    shuffle carries every doc's shingle set ``bands`` times. The
    long-format verify shuffles the shingled corpus ONCE, so it wins at
    corpus scale. The default (None) picks the carry variant only for a
    statably-tiny local corpus (< 4 MB source bytes — the bands-fold
    shuffle inflation is then noise) and the long format everywhere
    else, including any remote/unstatable source; both produce
    identical results (pinned by test), so the choice is plan-only."""
    if carry_shingles is None:
        sz = local_input_bytes(df)
        carry_shingles = sz is not None and sz < (4 << 20)
    if carry_shingles:
        return _ngram_jaccard_carry(
            df, text_col, id_col, threshold, num_hashes, bands, shingle_k
        )
    # dedup=True: a pair co-bucketed in several bands arrives once per
    # band, and TRUE near-duplicates co-bucket in MOST bands by
    # construction — exactly the corpora this operator exists for. On
    # the adversarial corpus (tools/gen_adversarial.py: Zipfian
    # near-dup clusters + exact-dup blocks) the raw feed is 12.4M
    # pair-rows vs 2.57M distinct pairs (4.8x), and every duplicate
    # row drags two full shingle arrays through the verify regroup —
    # the distinct costs one skinny 16-byte/row shuffle and cuts the
    # array-carrying shuffle by the duplication factor. (The verify's
    # groupBy would collapse duplicates anyway, so this is plan-only;
    # results are pinned identical either way.)
    df = widen_small_scan(df)
    cands = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k, dedup=True
    )
    # LONG-FORMAT verify: explode each candidate pair into its two member
    # ids, join the shingle table ONCE, then regroup per pair. One join
    # instead of two, and the shingle sets are computed once for the
    # verify (a two-sided a/b join computes them once per side AND, at
    # corpus scale, sort-merge-shuffles the whole shingled corpus twice
    # — once by id_a, once by id_b; here the corpus crosses at most one
    # join, and the regroup shuffles only candidate-member arrays, which
    # banding already made sublinear). Recomputing the one cheap JVM
    # hashing pass beats persist(), which leaks executor storage across
    # calls in a long-lived session.
    sh = _with_shingle_hashes(df, text_col, shingle_k, out="sh").select(
        F.col(id_col).alias("__id"), "sh"
    )
    member = cands.select(
        "id_a", "id_b", F.explode_outer(F.array("id_a", "id_b")).alias("__id")
    )
    return (
        member.join(sh, "__id")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("__id") == F.col("id_a"), F.col("sh"))).alias("sh_a"),
            F.max(F.when(F.col("__id") == F.col("id_b"), F.col("sh"))).alias("sh_b"),
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


def _ngram_jaccard_carry(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    max_bucket: int = 1000,
) -> DataFrame:
    """carry_shingles=True body: bands carry (id, shingle-set) structs,
    Jaccard computed during in-bucket pair expansion; the final groupBy
    on the pair key dedups multi-band collisions (values identical, so
    ``first`` is deterministic)."""
    rows = num_hashes // bands
    sh = _with_shingle_hashes(widen_small_scan(df), text_col, shingle_k, out="__sh")
    sig = sh.withColumn("signature", _minhash_sig_udf(num_hashes)(F.col("__sh")))
    # chained-long band hashing, matching minhash_candidate_pairs
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64("
        + ", ".join(
            f"element_at(signature, {b * rows + j + 1})" for j in range(rows)
        )
        + "))"
        for b in range(bands)
    )
    banded = sig.select(
        id_col,
        F.col("__sh").alias("sh"),
        F.explode_outer(  # never-empty computed array; see banding comment
            F.expr(f"array({band_structs})")
        ).alias("bb"),
    ).select(id_col, "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    def pair(a: str, b: str) -> str:
        return (
            f"named_struct('id_a', {a}.id, 'id_b', {b}.id, 'jaccard', "
            f"size(array_intersect({a}.sh, {b}.sh)) / size(array_union({a}.sh, {b}.sh)))"
        )

    return (
        bucket_pairs(banded, ["band", "bucket"], id_col, max_bucket, pair)
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.first("jaccard").alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Vectorized bit-vote packer: token xxhash64s (computed JVM-side) →
# 64-bit SimHash via numpy. The naive all-SQL formulation (a fold
# updating a 64-int vote array per token) runs as *interpreted*
# higher-order functions — 64 ops per token outside codegen, ~100×
# slower. Hashing stays in the JVM; only the bit-packing crosses to
# Python, Arrow-batched and fully vectorized.
@pandas_udf(LongType())  # DataType instance: a "long" DDL string would
def _simhash_pack(hashes: pd.Series) -> pd.Series:  # need a live session at import
    n = len(hashes)
    lens = np.fromiter(
        (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
    )
    out = np.zeros(n, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.uint64)
    # flat-vectorized over the whole Arrow batch: bits[t, b] for every
    # token of every doc at once, per-doc vote sums via add.reduceat —
    # no per-row Python loop. Chunked to bound the (tokens, 64) uint8
    # intermediate at ~13 MB.
    chunk_budget = 200_000
    start = 0
    while start < n:
        end = start
        tot = 0
        while end < n and (tot == 0 or tot + lens[end] <= chunk_budget):
            tot += lens[end]
            end += 1
        nz = np.nonzero(lens[start:end])[0] + start
        if len(nz):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
            ).astype(np.uint64)
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            offs = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            votes = np.add.reduceat(bits, offs, axis=0).astype(np.int64)
            pos = (2 * votes) > lens[nz][:, None]  # majority-1 bits
            fp = (pos.astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            out[nz] = fp.astype(np.int64)
        start = end
    return pd.Series(out)


def with_simhash64(df: DataFrame, text_col: str) -> DataFrame:
    """Add ``simhash: bigint`` — 64-bit SimHash of the token set.

    Classic bit-vote construction: each token votes ±1 per bit position
    of its xxhash64; the fingerprint sets bits with positive vote sum.
    Token hashing runs JVM-side; vote packing is an Arrow-batched
    numpy UDF (see _simhash_pack_udf for why not pure SQL).
    """
    toks = _tokens_expr(text_col)
    # NULL-text rows dropped — no token set, no fingerprint (see
    # _with_shingle_hashes; gen_fuzz finding)
    return (
        df.where(F.col(text_col).isNotNull())
        .withColumn("__tok_hashes", F.expr(f"transform({toks}, t -> xxhash64(t))"))
        .withColumn("simhash", _simhash_pack(F.col("__tok_hashes")))
        .drop("__tok_hashes")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    use_lsh: bool = False,
    nbits: int = 8,
    max_hamming: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine).

    use_lsh=False: exact all-pairs — the correctness baseline; quadratic,
    fine up to ~10^4 vectors per group.
    use_lsh=True: random-hyperplane signatures with MULTI-PROBE
    candidate generation — side A explodes each bucket into its
    hamming-≤``max_hamming`` ball (``sum C(nbits, i)`` probes per row),
    so the pair join is an EQUI-join on bucket id (AQE-skew-handled
    shuffle), never a nested-loop over all pairs; a pair at distance d
    matches on exactly one probe (mask = a⊕b), so no duplicates. Exact
    cosine verifies the candidates.

    ``dim`` (the exact embedding length) is required for the LSH path
    (hyperplane construction). The verify-side dot product stays the
    sequential fold — measured fastest available form; see
    similarity.dot_expr for the unrolled-codegen dead end.
    """
    from bq_duckdb_spark.ext.similarity import dot_expr, with_lsh_signature

    norm = f"sqrt({dot_expr(vec_col, vec_col, dim)})"
    # candidate expansion + verify parallelism must not depend on the
    # input's file-split count: a 7 MB single-file embeddings table
    # scans as ONE task, serializing the (quadratic-ish) pair stage onto
    # one core — the adversarial 20.8k-vector sweep measured 2 of 32
    # cores busy for 7+ minutes. Metadata-only decision, no-op at scale.
    base = widen_small_scan(
        df.select(F.col(id_col), F.col(vec_col), F.expr(norm).alias("__n"))
    )
    if use_lsh:
        if dim is None:
            # inferring dim would cost a driver-side .first() Spark job in
            # the middle of the pipeline; require it instead
            raise ValueError(
                "embedding_near_dup_pairs(use_lsh=True) requires dim= "
                "(the embedding length) so the plan stays a single job"
            )
        base = with_lsh_signature(base, dim=dim, nbits=nbits, vec_col=vec_col)
        masks = [m for m in range(1 << nbits) if m.bit_count() <= max_hamming]
        probed = base.withColumn(
            "__probe",
            F.explode_outer(  # never-empty computed array; see banding comment
                F.expr(
                    f"transform(array({', '.join(f'{m}L' for m in masks)}), "
                    f"m -> lsh_bucket ^ m)"
                )
            ),
        )
        a, b = probed.alias("a"), base.alias("b")
        cond = (F.col("a.__probe") == F.col("b.lsh_bucket")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
    else:
        # both join sides recompute the norm — pure codegen'd JVM
        # arithmetic, cheaper than a persist() that leaks storage memory
        a, b = base.alias("a"), base.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    cos = F.expr(
        dot_expr(f"a.{vec_col}", f"b.{vec_col}", dim)
    ) / (F.col("a.__n") * F.col("b.__n"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# multi-block pigeonhole banding (shared by the xxhash64 and portable
# SimHash paths)
# ---------------------------------------------------------------------------
#
# The pigeonhole guarantee generalizes: split an nbits fingerprint into
# n_blocks blocks; a pair within Hamming distance h has at most h dirty
# blocks, so its (n_blocks - h) clean blocks contain SOME (n_blocks - h)-
# subset — band on every such subset and no true pair is missed. The
# n_blocks = h + 1 case is the classic "agree on one chunk" scheme; LARGER
# n_blocks trades band count (C(n_blocks, n_blocks - h) exploded rows per
# doc) for exponentially wider bucket keys. For 64-bit / h=3: 4 blocks
# gives 4 bands keyed on 16 bits (2^16 buckets — random collisions grow
# candidate pairs ~ n^2 / 2^16, the measured superlinear wall-time growth
# in SCALING_r6), while 6 blocks gives C(6,3)=20 bands keyed on ~33 bits
# (2^33 buckets — random collisions are negligible at any realistic
# corpus, candidates ~ true near-dups only). This is the multi-table
# construction from Manku, Jain & Sarma, "Detecting Near-Duplicates for
# Web Crawling" (WWW'07), expressed as one (band, key) shuffle instead of
# sorted permuted tables.
#
# All expression builders below emit arithmetic valid in BOTH Spark SQL
# and DuckDB (>>, &, *, +, CASE) so the DuckDB oracles are generated from
# the same definitions (see ext/contract_portable.py).


def block_layout(nbits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(bit offset, width) per block — wider blocks take the LOW offsets;
    when widths divide evenly this reproduces the legacy chunk layout
    (block c at offset c * width) bit for bit."""
    base, extra = divmod(nbits, n_blocks)
    widths = [base + 1] * extra + [base] * (n_blocks - extra)
    out, off = [], 0
    for w in widths:
        out.append((off, w))
        off += w
    return out


def band_combos(n_blocks: int, max_hamming: int) -> list[tuple[int, ...]]:
    """All (n_blocks - max_hamming)-subsets of blocks, lexicographic —
    one band per subset. Clamped to 1-block bands when max_hamming >=
    n_blocks: the pigeonhole guarantee then no longer holds (a pair can
    differ in every block) and recall is best-effort — the legacy
    chunk-scheme behavior for out-of-design thresholds."""
    keep = max(1, n_blocks - max_hamming)
    return list(itertools.combinations(range(n_blocks), keep))


def first_band_lookup(combos: list[tuple[int, ...]], n_blocks: int) -> list[int]:
    """bitmap (bit i set = block i clean) -> index of the FIRST band whose
    blocks are all clean, -1 if none — the emit-once rule as a flat
    2^n_blocks lookup evaluated in-bucket from the xor."""
    out = []
    for bm in range(1 << n_blocks):
        first = -1
        for ci, c in enumerate(combos):
            if all((bm >> i) & 1 for i in c):
                first = ci
                break
        out.append(first)
    return out


def _block_val(fp: str, off: int, width: int) -> str:
    # >> is arithmetic in both engines; the mask truncates the sign fill,
    # so signed fingerprints (xxhash64) extract correctly at any offset
    return f"(({fp} >> {off}) & {(1 << width) - 1})"


def band_key_exprs(
    fp: str, layout: list[tuple[int, int]], combos: list[tuple[int, ...]]
) -> list[str]:
    """One bucket-key expression per band: the band's block values packed
    into a single BIGINT (low block in the low bits) — deterministic,
    collision-free, and plain */+ arithmetic both engines fold."""
    keys = []
    for c in combos:
        if sum(layout[i][1] for i in c) > 62:
            raise ValueError("band key wider than a signed 64-bit pack")
        parts, shift = [], 0
        for i in reversed(c):
            off, w = layout[i]
            parts.append(f"{_block_val(fp, off, w)} * {1 << shift}")
            shift += w
        keys.append(" + ".join(reversed(parts)))
    return keys


def clean_bitmap_expr(x: str, layout: list[tuple[int, int]]) -> str:
    """Bitmap of zero-xor blocks from the pair's xor ``x``."""
    return " + ".join(
        f"(CASE WHEN {_block_val(x, off, w)} = 0 THEN {1 << i} ELSE 0 END)"
        for i, (off, w) in enumerate(layout)
    )


def blocked_pairs_from_fp(
    sh: DataFrame,
    id_col: str,
    nbits: int,
    max_hamming: int = 3,
    n_blocks: int = 4,
    max_bucket: int = 1000,
    emit: str = "first_band",
) -> DataFrame:
    """(id_a, id_b, hamming) for every pair within ``max_hamming`` on a
    precomputed ``simhash`` column — the banding core both SimHash paths
    share.

    ONE shuffle on (band, key) through the capped bucket self-join
    (:func:`bucket_pairs`) over (id, simhash) items, verified with
    bit_count(xor); never an all-pairs join, nothing persisted,
    ``max_bucket`` caps pathological buckets deterministically
    (smallest ids kept).

    ``emit="first_band"``: a pair co-bucketed in several bands is emitted
    ONLY from its first fully-clean band (decided in-bucket from the xor
    via a flat lookup) — exact dedup with NO distinct shuffle over the
    pair set. ``emit="distinct"``: a trailing distinct instead — the
    portable oracle-mirrored variant (a cap that drops a pair from its
    first-clean band's bucket but not another's then still emits it,
    matching a DISTINCT-over-all-bands oracle).
    """
    layout = block_layout(nbits, n_blocks)
    combos = band_combos(n_blocks, max_hamming)
    # assembled with F.array/F.struct (not one parsed "array(...)" string):
    # Spark's parser reads "array(" as a possible ARRAY<type> constructor
    # and chokes on the >> inside — the column constructors skip the
    # ambiguity while the key expressions stay engine-neutral strings
    band_structs = F.array(*[
        F.struct(F.lit(i).alias("band"), F.expr(k).alias("key"))
        for i, k in enumerate(band_key_exprs("simhash", layout, combos))
    ])
    banded = sh.select(
        id_col,
        "simhash",
        # explode_outer: see the banding comment in minhash_candidate_pairs
        F.explode_outer(band_structs).alias("bb"),
    ).select(
        id_col, "simhash",
        F.col("bb.band").alias("band"), F.col("bb.key").alias("key"),
    )
    out = bucket_pairs(
        banded, ["band", "key"], id_col, max_bucket,
        lambda a, b: (
            f"named_struct('id_a', {a}.id, 'id_b', {b}.id, 'x', {a}.simhash ^ {b}.simhash)"
        ),
    ).filter(F.expr("bit_count(x)") <= max_hamming)
    if emit == "first_band":
        # F.element_at over a literal array for the same parser reason as
        # band_structs above (the bitmap expression contains >>)
        lookup = first_band_lookup(combos, n_blocks)
        bm = clean_bitmap_expr("x", layout)
        out = out.filter(
            F.col("band")
            == F.element_at(
                F.array(*[F.lit(v) for v in lookup]), F.expr(bm).cast("int") + 1
            )
        )
        return out.select("id_a", "id_b", F.expr("bit_count(x)").alias("hamming"))
    return (
        out.select("id_a", "id_b", F.expr("bit_count(x)").alias("hamming"))
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    max_bucket: int = 1000, n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup id-pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding over the 64-bit fingerprint (see
    :func:`blocked_pairs_from_fp`). ``n_blocks=4`` is the classic
    agree-on-one-16-bit-chunk scheme — fewest exploded rows, but its
    2^16-value buckets accrue random collisions, so candidate pairs
    grow ~n^2/2^16: superlinear wall time once the corpus passes a few
    thousand docs. ``n_blocks=6`` bands every 3-block combination
    (C(6,3)=20 bands, ~33-bit keys): 5x the banding rows, but random
    collisions vanish and growth stays LINEAR — measured (SCALING_r7):
    ~equal at 5k docs, 2.8x faster at 125k, growth 1.5x vs 2.2x per 5x
    data. The default (None) picks 4 only for a statably-tiny local
    corpus (< 4 MB source bytes, under the measured crossover) and 6
    everywhere else — including any remote/unstatable source, which is
    by definition the at-scale path. The choice is plan-only: both
    schemes emit the IDENTICAL pair set (pigeonhole-exact; modulo
    ``max_bucket`` cap edges on pathological mega-buckets), each pair
    exactly once from its first clean band — no distinct shuffle.
    """
    if n_blocks is None:
        sz = local_input_bytes(df)
        n_blocks = 4 if sz is not None and sz < (4 << 20) else 6
    sh = with_simhash64(widen_small_scan(df), text_col).select(F.col(id_col), "simhash")
    return blocked_pairs_from_fp(
        sh, id_col, 64, max_hamming, n_blocks, max_bucket, emit="first_band"
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into duplicate CLUSTERS:
    ``(node, cluster_id)`` where ``cluster_id`` is the minimum id in the
    node's connected component. The output is fully deterministic (mins
    only), independent of partitioning and iteration order.

    Shiloach-Vishkin-style hash-min (relax + parent hook + pointer
    jump), the SAME recurrence the unrolled DuckDB oracle uses
    (ext/contract_portable.components_ctes). Every node starts labelled
    with its own id; each round

    (a) RELAX: a node takes the min of its label and its neighbors'
        labels — one join + groupBy shuffle over the EDGE list (edges ~
        candidate pairs, already sub-linear in corpus size from
        banding), never over the corpus;
    (b) HOOK: a node's PREVIOUS label learns the node's new min — the
        Shiloach-Vishkin step that makes reach COMPOUND. Without it,
        reach grows ~1 hop per round and a digit-walk name chain needed
        15 measured rounds at sf0.1 (cc_probe, round 11); with it the
        measured convergence on the same graphs is <= ceil(log2(n)) + 2
        rounds. Node-table-sized join only — no extra edge pass;
    (c) JUMP: lbl := lbl(lbl) over the hooked labels.

    All three steps are monotone non-increasing mins over node ids, so
    any fixpoint of the symmetric relax is the component min and the
    label sum strictly decreases until fixpoint — the convergence
    probe. Each intermediate is truncated with a LAZY localCheckpoint
    (plan becomes a LogicalRDD immediately; the RDD materializes inside
    the round's single probe job), so one round costs ONE job instead
    of the former eager-checkpoint + probe pair, and self-joins do not
    duplicate lineage (the round-10 double-jump dead end). A superseded
    round's checkpointed blocks stay cached until Spark's context
    cleaner reclaims them once unreferenced (``Dataset.unpersist`` does
    not release a localCheckpoint's blocks). On a cluster, set a
    reliable checkpoint dir and swap for checkpoint().

    Reference parity: the reference engine stops at pair output
    (no cluster resolver); this is part of the beyond-reference
    training-pipeline suite.
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    # symmetrize once; dedup to keep the per-round join minimal
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # this first action materializes edges + labels as a side effect
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    if prev_sum is None:  # no edges at all
        return labels.select("node", F.col("lbl").alias("cluster_id"))
    converged = False
    for it in range(max_iter):
        # (a) relax: min over own label and incoming neighbor labels
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        relax = (
            labels.union(msgs).groupBy("node").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=False)
        if it == 0:
            # round-1 hook is an exact no-op (every previous label IS
            # the node itself, so the hook message set equals relax) —
            # skip its shuffle
            hooked = relax
        else:
            # (b) hook: the previous label learns the node's new min
            hook_msgs = (
                labels.withColumnRenamed("lbl", "plbl")
                .join(relax, "node")
                .select(F.col("plbl").alias("node"), "lbl")
            )
            hooked = (
                relax.union(hook_msgs)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            ).localCheckpoint(eager=False)
        # (c) jump: lbl <- lbl(lbl). Inner join is exact: every label is
        # a node id, and hooked covers every node.
        jump = hooked.select(F.col("node").alias("jn"), F.col("lbl").alias("jl"))
        new_labels = (
            hooked.join(jump, hooked.lbl == jump.jn)
            .select("node", F.col("jl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("lbl")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # silently-wrong clusters are worse than a loud failure: the
        # caller can raise max_iter (2^max_iter effective diameter)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def assign_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Canonical-document assignment for the whole corpus: every row of
    ``df`` gains ``cluster_id`` (min id of its near-dup component;
    itself if unpaired) and ``is_canonical`` (the one row per cluster a
    dedup pipeline keeps). The label table is tiny relative to the
    corpus (only nodes that appear in a pair), so the join broadcasts
    under AQE at any corpus scale."""
    labels = connected_components(pairs, id_a=id_a, id_b=id_b)
    out = (
        df.join(labels, df[id_col] == labels.node, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .drop("node")
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest coarse
    centroid, compare pairs only WITHIN a cluster, and drop every vector
    that has a higher-priority (lower-id) near-duplicate at cosine >=
    ``threshold``. Returns the survivors as (id, ivf_cell).

    The cluster assignment bounds the quadratic: with k clusters of
    ~N/k vectors, candidate pairs fall from N^2 to N^2/k — the paper's
    trick for running semantic dedup on web-scale corpora. ``centroids``
    is the coarse codebook (train with
    ext/similarity.py:train_ivf_centroids, or any offline k-means).

    Scale: assignment is map-only; the pair join is an EQUI-join on the
    cell id (one shuffle of the corpus; skewed cells are AQE skew-split);
    the drop set (distinct id_b) shuffles matched ids only, and the final
    anti-join broadcasts when the drop set is small. Deterministic for
    fixed centroids — cosine uses the sequential double fold
    (similarity.py:dot_expr), so the whole operator carries a full
    DuckDB oracle.
    """
    from bq_duckdb_spark.ext.similarity import dot_expr, ivf_assign

    dim = len(centroids[0])
    norm = f"sqrt({dot_expr(vec_col, vec_col, dim)})"
    # see embedding_near_dup_pairs: in-cell pair verification must not
    # inherit a tiny file's single scan split (no-op at scale)
    assigned = ivf_assign(
        widen_small_scan(df.select(F.col(id_col), F.col(vec_col))),
        centroids,
        vec_col=vec_col,
    ).withColumn("__n", F.expr(norm))
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = F.expr(dot_expr(f"a.{vec_col}", f"b.{vec_col}", dim)) / (
        F.col("a.__n") * F.col("b.__n")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.ivf_cell") == F.col("b.ivf_cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "ivf_cell")
