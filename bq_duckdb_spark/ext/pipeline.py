"""Corpus-preparation operators for LLM training pipelines:
benchmark decontamination, sequence packing, stratified sampling,
deterministic shuffling, and repetition-quality filters.

Reference parity: the reference engine (a SQL/DAG query engine) has no
training-pipeline suite; these extend it the way ext/dedup and ext/text
do — first-class distributed operators with driver-contract oracles.

Scale design notes (the 100 TB shapes):
- decontamination joins the corpus' exploded n-grams against the
  held-out set ONCE on a hashed n-gram key — the held-out side (eval
  benchmarks) is orders of magnitude smaller than the corpus and is
  explicitly broadcast, so the corpus never shuffles;
- sequence packing is one window cumsum per group partition (range-
  partitioned by group) + a map-only explode — no global funnel;
- stratified sampling / seeded shuffle order by a SPLITTABLE
  deterministic mix hash (pure 64-bit arithmetic, reproducible in any
  engine), never rand() (non-reproducible across retries — a retried
  task would resample);
- repetition stats are map-only per-document expressions (Gopher-style
  filters, Rae et al. 2021, arXiv:2112.11446) — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bq_duckdb_spark.operators.prefix import range_prefix

# ---------------------------------------------------------------------------
# deterministic mix hash (engine-portable: plain 64-bit arithmetic)
# ---------------------------------------------------------------------------

# Knuth multiplicative mix modulo the Mersenne prime 2^31-1. Products
# stay under 2^63 for any id below ~4.5e12, so the SAME expression
# evaluates identically in Spark, DuckDB, BigQuery — which is what lets
# the sampling/shuffle entries carry full value-level oracles (xxhash64
# would be faster but has no cross-engine twin).
_MIX_MOD = 2147483647


def mix_hash_expr(col: str, seed: int = 0) -> str:
    return f"((({col} + {seed}) % {_MIX_MOD}) * 2654435761) % {_MIX_MOD}"


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def _ngram_hashes(df: DataFrame, text_col: str, n: int, out: str) -> DataFrame:
    """Token n-grams as xxhash64 ids (delegates to the dedup shingler —
    same whole-doc fallback for docs shorter than n tokens)."""
    from bq_duckdb_spark.ext.dedup import _with_shingle_hashes

    return _with_shingle_hashes(df, text_col, n, out=out)


def contaminated_ids(
    corpus: DataFrame,
    heldout: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Ids of corpus docs sharing ANY token n-gram with the held-out set.

    The held-out n-gram table (distinct hashes) is explicitly broadcast:
    eval benchmarks are a few MB of n-grams against a corpus of TBs, so
    the contamination check is a map-side hash probe of the corpus scan —
    the corpus itself never crosses an exchange. The distinct on the
    output ids is a shuffle of matched ids only (bounded by corpus rows,
    typically a tiny fraction).
    """
    ho = (
        _ngram_hashes(heldout, text_col, n, out="__g")
        .select(F.explode_outer("__g").alias("__g"))  # see note below
        .distinct()
    )
    hits = (
        _ngram_hashes(corpus, text_col, n, out="__g")
        # explode_outer: plain explode makes Catalyst infer a pre-Generate
        # filter that re-evaluates the whole n-gram-hash expression twice
        # more per row (8x slower measured at sf0.1); arrays are non-empty
        # (whole-doc fallback), and a null text row explodes to a null gram
        # that no equi-join can match — value-identical output.
        .select(F.col(id_col), F.explode_outer("__g").alias("__g"))
        .join(F.broadcast(ho), "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return hits


def decontaminate(
    corpus: DataFrame,
    heldout: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Drop every corpus doc that shares a token n-gram with ``heldout``
    (train/test overlap removal). Anti-join on the (small) contaminated
    id set — broadcast under AQE."""
    hits = contaminated_ids(corpus, heldout, text_col, id_col, n)
    return corpus.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    seq_len: int,
) -> DataFrame:
    """GPT-style pretraining packing: per group, concatenate documents in
    deterministic (id) order and chunk the token stream into fixed
    ``seq_len`` blocks. A document spanning a block boundary appears in
    every block it overlaps, with its in-block slice recorded.

    Output: (group, seq_no, id, tok_start, n_tok) where ``tok_start`` is
    the doc slice's offset inside sequence ``seq_no`` and ``n_tok`` the
    slice length; empty docs are dropped (they contribute no tokens).

    Scale: one window cumsum per group (groups range-partition; within a
    group the running offset is a prefix sum over that partition) and a
    map-only explode over the spanned block range. No global ordering —
    packing is per-group by design: at 100 TB you pack per shard/lang,
    never through one global cumsum.
    """
    n_tok = f"CAST(size(split(trim({text_col}), '\\\\s+')) AS BIGINT)"
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = df.select(
        F.col(group_col), F.col(id_col), F.expr(n_tok).alias("__nt")
    ).withColumn("__start", F.coalesce(F.sum("__nt").over(w), F.lit(0)))
    return (
        toks.filter(F.col("__nt") > 0)
        .withColumn(
            "seq_no",
            # _outer: computed array (repo convention — plain explode
            # invites InferFiltersFromGenerate to evaluate the sequence
            # twice); never empty since __nt > 0 makes stop >= start
            F.explode_outer(
                F.expr(
                    f"sequence(__start div {seq_len}, "
                    f"(__start + __nt - 1) div {seq_len})"
                )
            ),
        )
        .select(
            group_col,
            "seq_no",
            id_col,
            (
                F.greatest(F.col("__start"), F.col("seq_no") * seq_len)
                - F.col("seq_no") * seq_len
            ).alias("tok_start"),
            (
                F.least(F.col("__start") + F.col("__nt"), (F.col("seq_no") + 1) * seq_len)
                - F.greatest(F.col("__start"), F.col("seq_no") * seq_len)
            ).alias("n_tok"),
        )
    )


# ---------------------------------------------------------------------------
# stratified sampling + deterministic shuffle
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each stratum
    by the portable mix hash of their id (ties broken by id) and keep the
    first ``k``. Reproducible across runs/retries/engines — rand() is
    not (a retried task would draw fresh numbers).

    Scale: one shuffle on the strata columns; per-stratum windows are
    parallel. Heavily skewed strata bound the window cost at the largest
    stratum — still streaming row_number, never a buffer.
    """
    h = mix_hash_expr(id_col, seed)
    w = Window.partitionBy(*strata_cols).orderBy(F.expr(h), F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def seeded_shuffle(df: DataFrame, id_col: str, seed: int = 0) -> DataFrame:
    """Global deterministic training-order shuffle: every row gains
    ``shuffle_pos`` (0-based), the rank of its mix-hash (ties by id),
    computed by :func:`operators.prefix.range_prefix` instead of a
    single-task global ``row_number()``.
    """
    keyed = df.withColumn("__h", F.expr(mix_hash_expr(id_col, seed)))
    out, _ = range_prefix(
        keyed, ["__h", id_col], F.row_number(), F.count(F.lit(1)), "shuffle_pos"
    )
    return out.withColumn("shuffle_pos", F.col("shuffle_pos") - 1).drop("__h")


# ---------------------------------------------------------------------------
# repetition filters (Gopher-style)
# ---------------------------------------------------------------------------


def with_repetition_stats(
    df: DataFrame, text_col: str, ngram: int = 3
) -> DataFrame:
    """Per-document repetition quality signals (the Gopher repetition
    filters, Rae et al. 2021 — used to drop auto-generated / looping
    text):

    - ``dup_token_frac``: fraction of tokens that are repeats of an
      earlier token (1 - distinct/total);
    - ``dup_ngram_frac``: fraction of token ``ngram``-grams occurring
      more than once;
    - ``top_ngram_frac``: fraction of all ``ngram``-grams claimed by the
      single most frequent one.

    Map-only JVM higher-order expressions; per-doc cost is
    O(grams log grams): gram multiplicities are read off a SORTED gram
    array (a gram is a duplicate iff it equals a sorted neighbor; the
    top gram's count is the longest run, one sequential fold). The
    first formulation counted via ``transform(array_distinct(g), d ->
    size(filter(g, x -> x = d)))`` — O(distinct x grams), quadratic in
    document length — and a single adversarial 160k-token document
    (~2e10 string comparisons) stalled the whole stage past its budget.
    Zero shuffles at any corpus size.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    # build grams from the MATERIALIZED __t attribute, not the inline
    # split — an inlined tokenizer inside the lambda re-runs per n-gram
    # (O(tokens²) per doc; see text.py _ngrams)
    grams = (
        f"CASE WHEN size(__t) < {ngram} THEN array(concat_ws(' ', __t)) "
        f"ELSE transform(sequence(1, size(__t) - {ngram - 1}), "
        f"i -> concat_ws(' ', slice(__t, i, {ngram}))) END"
    )
    # grams that occur more than once == sorted grams equal to a neighbor
    dup_members = (
        "size(filter(sequence(1, size(__gs)), i -> "
        "(i > 1 AND element_at(__gs, i) = element_at(__gs, i - 1)) "
        "OR (i < size(__gs) AND element_at(__gs, i) = element_at(__gs, i + 1))))"
    )
    # longest run in the sorted array = the top gram's count
    top_run = (
        "aggregate(__gs, "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(s, x) -> IF(s.prev IS NOT NULL AND x = s.prev, "
        "named_struct('prev', x, 'run', s.run + 1L, "
        "             'best', greatest(s.best, s.run + 1L)), "
        "named_struct('prev', x, 'run', 1L, 'best', greatest(s.best, 1L)))"
        ").best"
    )
    return (
        df.withColumn("__t", F.expr(toks))
        .withColumn("__gs", F.expr(f"array_sort({grams})"))
        .withColumn(
            "dup_token_frac",
            F.expr("1.0 - CAST(size(array_distinct(__t)) AS DOUBLE) / size(__t)"),
        )
        .withColumn(
            "dup_ngram_frac",
            F.expr(f"CAST({dup_members} AS DOUBLE) / size(__gs)"),
        )
        .withColumn(
            "top_ngram_frac",
            F.expr(f"CAST({top_run} AS DOUBLE) / size(__gs)"),
        )
        .drop("__t", "__gs")
    )


def repetition_filter(
    df: DataFrame,
    text_col: str,
    ngram: int = 3,
    max_dup_token_frac: float = 0.6,
    max_dup_ngram_frac: float = 0.5,
    max_top_ngram_frac: float = 0.3,
) -> DataFrame:
    """Keep documents below all three repetition thresholds."""
    scored = with_repetition_stats(df, text_col, ngram)
    return scored.filter(
        (F.col("dup_token_frac") <= max_dup_token_frac)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
        & (F.col("top_ngram_frac") <= max_top_ngram_frac)
    )


# ---------------------------------------------------------------------------
# corpus-relative curation
# ---------------------------------------------------------------------------


def quantile_curate(
    df: DataFrame,
    score_col: str,
    id_col: str,
    group_col: str,
    keep_frac: float = 0.8,
) -> DataFrame:
    """Keep each group's top ``keep_frac`` fraction by score —
    corpus-RELATIVE quality filtering (vs the fixed thresholds of
    ext/text.py:curate). Rank-based rather than value-threshold-based,
    so the cut is integer-exact and engine-portable: no float boundary
    can flip a row between engines (a `score >= percentile(...)` filter
    can, when the interpolated threshold differs in the last ulp).

    Scale: one shuffle on the group column; per-group window is a
    streaming row_number + a count, never a value buffer. Groups are
    strata (language/source shards) — there is no global funnel, which
    is also how a 100 TB pipeline curates: per shard, not globally.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rk") <= F.ceil(F.col("__n") * keep_frac))
        .drop("__rk", "__n")
    )


def vocab_topk(
    df: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 100,
) -> DataFrame:
    """Per-group vocabulary: the ``k`` most frequent tokens with counts
    (ties broken alphabetically — deterministic). One explode + one
    (group, term) count shuffle with map-side partial aggregation, then
    a per-group top-k window over the (small) distinct-term table."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    # _outer: keeps the tokenizing split out of the inferred
    # pre-Generate filter (see ext/dedup.py banding comment)
    terms = df.select(
        F.col(group_col), F.explode_outer(F.expr(toks)).alias("term")
    ).filter(F.col("term").isNotNull())
    counts = terms.groupBy(group_col, "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("term_count").desc(), F.col("term")
    )
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(group_col, "term", "term_count", F.col("__rk").alias("rank"))
    )


# ---------------------------------------------------------------------------
# span-level exact dedup (C4-style)
# ---------------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 10,
    hash_spans: bool = False,
) -> DataFrame:
    """C4-style sub-document exact dedup (Raffel et al. 2020,
    arXiv:1910.10683 §2.2 dedups three-sentence spans): split every
    document into NON-overlapping ``n``-token spans, keep only the first
    corpus-wide occurrence of each exact span (ordered by (id, position)),
    and reassemble the surviving spans in original order. Documents whose
    spans were all seen earlier disappear entirely.

    Output: (id, text, n_spans, kept_spans) — ``text`` is the
    deduplicated document; ``n_spans``/``kept_spans`` let callers filter
    docs that lost most of their content.

    Scale: two shuffles — one on the span key to pick winners (a
    streaming row_number, never a buffer), one back on the doc id to
    reassemble. With ``hash_spans=True`` the winner shuffle keys on
    xxhash64(span) (8-byte keys instead of full span text — the 100 TB
    path; a 2^-64 collision silently drops one span, the standard C4
    trade). The oracle entry keys on the span VALUE so DuckDB agrees
    exactly.
    """
    toks = f"split(trim({text_col}), '\\\\s+')"
    nsp = f"CAST(ceil(size(__toks) / {n}.0) AS INT)"
    spans = (
        f"transform(sequence(0, {nsp} - 1), "
        f"i -> array_join(slice(__toks, i * {n} + 1, {n}), ' '))"
    )
    # split('') yields [''] (size 1), so nsp >= 1 and sequence() never
    # sees start > stop (Spark would count DOWN, not return empty).
    # Three-step projection: the token array is materialized FIRST (the
    # slice inside the span lambda then reads an attribute — an inlined
    # split would re-tokenize per span), then n_spans and the span array
    # are computed once per document below the Generate; exploding by
    # attribute keeps everything out of the per-span Project.
    # NULL-text docs have no spans and are dropped (filter pushed to
    # the scan); keeping them would emit a phantom row whose NULL
    # counts the SQL twin renders differently (gen_fuzz finding)
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.expr(toks).alias("__toks")
    ).select(
        F.col(id_col), F.expr(nsp).alias("n_spans"), F.expr(spans).alias("__spans")
    )
    # posexplode_OUTER: __spans is computed, and plain posexplode lets
    # InferFiltersFromGenerate push a size()>0 filter below the
    # projections, inlining the whole span construction — slice(split(
    # text)) PER SPAN, O(tokens x spans) per doc. One adversarial
    # 160k-token document stalled the stage past a 7-minute budget;
    # with _outer the tokenizer runs once per doc (split('') yields
    # [''], so the array is never empty and _outer adds no rows).
    exploded = base.select(
        id_col, "n_spans", F.posexplode_outer("__spans").alias("span_pos", "span")
    )
    key = F.xxhash64("span") if hash_spans else F.col("span")
    w = Window.partitionBy(key).orderBy(id_col, "span_pos")
    kept = exploded.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(span_pos, span))), s -> s.span)"),
        ).alias(text_col),
        F.first("n_spans").alias("n_spans"),
        F.count(F.lit(1)).cast("int").alias("kept_spans"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    hash_windows: bool = False,
) -> DataFrame:
    """Exact substring dedup at ARBITRARY token offsets — the
    overlapping-window practical form of Lee et al. 2022
    (arXiv:2107.06499): their suffix array finds duplicated byte runs
    anywhere in the corpus; here every OVERLAPPING k-token window is a
    probe, so any duplicated run of >= k tokens is caught at token
    granularity. :func:`span_dedup`'s non-overlapping C4 grid misses
    duplicates that straddle span boundaries or start mid-span; this
    operator does not.

    Semantics: the FIRST occurrence of each distinct window — ordered
    by (id, position) — is canonical; every other occurrence marks its
    k tokens as duplicated. Per document the duplicated windows merge
    into maximal intervals and those token ranges are cut; survivors
    re-join with single spaces (whitespace normalizes, as in
    span_dedup). Docs shorter than k tokens emit no windows and pass
    through re-joined. Output: (id, text, n_tokens, removed_tokens).

    Scale: corpus-linear, never all-pairs. Window probes are T-k+1
    rows per doc — ONE shuffle keyed on the window (``hash_windows=
    True`` keys on xxhash64: 8-byte shuffle keys carrying only
    (id, pos), the 100 TB path — with the standard hashed-dedup trade:
    a 2^-64-per-pair key collision wrongly cuts one k-token run from a
    non-duplicate doc, the same trade span_dedup's hash_spans and C4
    itself make; the value key is the collision-free, oracle-portable
    default), where a STREAMING row_number picks first occurrences —
    a boilerplate window duplicated 10^6 times is rank-streamed on one
    reducer key, never buffered. One groupBy ships only DUPLICATE
    positions (two ints/row); one join on the id reassembles (the
    same corpus-by-id shuffle span_dedup pays). Interval merge and
    the cut are per-row array expressions — map-only. The per-token
    coverage test is O(T x merged-intervals) per doc; merged
    intervals are bounded by T/k, and in real corpora collapse to a
    handful of maximal runs.
    """
    base = _substr_tok_base(df, text_col, id_col)
    wins, key = _substr_windows(base, id_col, k, hash_windows)
    rw = Window.partitionBy(key).orderBy(id_col, "pos")
    dup_pos = (
        wins.withColumn("__rn", F.row_number().over(rw))
        .filter(F.col("__rn") > 1)
        .select(id_col, "pos")
    )
    return _substr_cut(base, dup_pos, text_col, id_col, k)


def _substr_tok_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # NULL-text docs are dropped (see span_dedup)
    toks = f"split(trim({text_col}), '\\\\s+')"
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.expr(toks).alias("__toks")
    )


def _substr_windows(
    base: DataFrame, id_col: str, k: int, hash_windows: bool
) -> tuple[DataFrame, str]:
    """(id, pos, window-key) probe rows over ``base`` (id, __toks)."""
    # sequence() counts DOWN when start > stop (see span_dedup), so the
    # short-doc case must be guarded to an explicit empty array
    wins_arr = (
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(0, size(__toks) - {k}), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {k}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    # posexplode_OUTER + post-filter: plain posexplode would let
    # InferFiltersFromGenerate inline the window construction into a
    # pre-Generate size()>0 filter (re-tokenizing per doc 3x — the
    # span_dedup hazard); _outer emits one NULL row for the empty
    # array, dropped by the post-Generate attribute filter.
    wins = base.select(
        id_col, F.posexplode_outer(F.expr(wins_arr)).alias("pos", "w")
    ).filter(F.col("pos").isNotNull())
    if hash_windows:
        # 8-byte shuffle key, window text never ships
        return wins.select(id_col, "pos", F.xxhash64("w").alias("__wk")), "__wk"
    return wins, "w"


def _substr_cut(
    base: DataFrame, dup_pos: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Cut the duplicated token ranges out of ``base`` given the
    duplicate window start positions (id, pos)."""
    dups = dup_pos.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__dup_pos")
    )
    # merge sorted duplicate starts into maximal [s, e) intervals: all
    # windows have equal length k, so p + k is always the running end
    merged = (
        f"aggregate(coalesce(__dup_pos, CAST(array() AS array<int>)), "
        f"CAST(array() AS array<struct<s:int,e:int>>), "
        f"(acc, p) -> CASE WHEN size(acc) = 0 OR p > element_at(acc, -1).e "
        f"THEN concat(acc, array(named_struct('s', p, 'e', p + {k}))) "
        f"ELSE concat(slice(acc, 1, size(acc) - 1), "
        f"array(named_struct('s', element_at(acc, -1).s, 'e', p + {k}))) END)"
    )
    kept = (
        "concat_ws(' ', transform(filter("
        "transform(__toks, (t, i) -> named_struct('t', t, 'i', i)), "
        "x -> NOT exists(__iv, v -> x.i >= v.s AND x.i < v.e)), "
        "x -> x.t))"
    )
    return (
        base.join(dups, id_col, "left")
        .withColumn("__iv", F.expr(merged))
        .select(
            id_col,
            F.expr(kept).alias(text_col),
            F.size("__toks").alias("n_tokens"),
            F.expr("aggregate(__iv, 0, (a, v) -> a + (v.e - v.s))").alias(
                "removed_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# training-mixture materialization (epoch-weighted sampling)
# ---------------------------------------------------------------------------


def mixture_epochs_exprs(
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
    default_weight: float = 1.0,
) -> str:
    """Portable SQL expression (valid in Spark AND DuckDB — integer
    arithmetic only) for the number of copies of a row under per-source
    epoch weights: floor(w) guaranteed copies plus one more iff the
    row's mix hash lands under frac(w) of the hash range. Fractions are
    pre-scaled to integer thresholds driver-side, so no float ever
    enters either engine."""
    h = mix_hash_expr(id_col, seed)
    branches = []
    for src, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative mixture weight for {src!r}: {w}")
        whole, thr = int(w), int(round((w - int(w)) * _MIX_MOD))
        branches.append(
            f"WHEN {source_col} = '{src}' THEN "
            f"{whole} + (CASE WHEN ({h}) < {thr} THEN 1 ELSE 0 END)"
        )
    dw, dthr = int(default_weight), int(
        round((default_weight - int(default_weight)) * _MIX_MOD)
    )
    default = f"{dw} + (CASE WHEN ({h}) < {dthr} THEN 1 ELSE 0 END)"
    return "CASE " + " ".join(branches) + f" ELSE {default} END"


def mixture_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
    default_weight: float = 1.0,
) -> DataFrame:
    """Materialize a training mixture: per-source epoch weights where
    w=2.5 means every doc appears twice and half the docs (chosen by
    deterministic hash, not rand()) a third time; w=0.1 keeps 10%.
    Emits one row per (doc, epoch) with ``epoch`` in [0, copies).

    This is the standard mixture step of LLM data pipelines (e.g. The
    Pile / Dolma publish exactly such per-source epoch factors) —
    upsampling high-quality sources, downsampling crawl.

    Scale: map-only — no shuffle, no rand() (reproducible under task
    retry), sequence+explode per row is bounded by ceil(max weight)
    copies. explode_outer + post-filter rather than explode: Catalyst's
    InferFiltersFromGenerate would otherwise inline the CASE/hash
    expression into a pre-Generate filter and evaluate it twice more
    per row (see contaminated_ids note).
    """
    copies = mixture_epochs_exprs(source_col, id_col, weights, seed, default_weight)
    # hoist the CASE/hash into its own projection so the generator's
    # guard and sequence() both reference the attribute (one evaluation
    # per row, and nothing for InferFiltersFromGenerate to inline)
    base = df.withColumn("__copies", F.expr(copies))
    epochs = "CASE WHEN __copies <= 0 THEN array() ELSE sequence(0, __copies - 1) END"
    return (
        base.withColumn("epoch", F.explode_outer(F.expr(epochs)))
        .filter(F.col("epoch").isNotNull())
        .withColumn("epoch", F.col("epoch").cast("int"))
        .drop("__copies")
    )


def temperature_weights(
    token_counts: dict[str, int | float],
    alpha: float = 0.3,
    total_epochs_budget: float | None = None,
) -> dict[str, float]:
    """Temperature-scaled mixture weights (multilingual-LM style, e.g.
    XLM-R, Conneau et al. 2020, arXiv:1911.02116): sampling probability
    p_i ∝ count_i^alpha flattens the source distribution (alpha=1 keeps
    natural proportions, alpha=0 is uniform), converted to per-source
    EPOCH factors for mixture_sample: epochs_i = p_i * budget / count_i,
    where ``budget`` is the total token budget in units of corpus
    tokens (defaults to the corpus size, i.e. one pass overall).

    Driver-side pure math — source counts are a tiny groupBy-count
    collect (one row per source), the codebook-sized driver round trip
    this module's operators allow."""
    if not token_counts:
        return {}
    if any(c <= 0 for c in token_counts.values()):
        raise ValueError("token counts must be positive")
    total = float(sum(token_counts.values()))
    powed = {s: float(c) ** alpha for s, c in token_counts.items()}
    z = sum(powed.values())
    budget = total if total_epochs_budget is None else float(total_epochs_budget)
    return {
        s: (powed[s] / z) * budget / float(token_counts[s]) for s in token_counts
    }


def corpus_assembly_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    min_tokens: int = 10,
    per_group: int = 100,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """End-to-end corpus assembly, accounted per language: exact dedup
    (content-hash, keep lowest id) → minimum-length quality gate →
    deterministic per-language balancing → chunk/token accounting.
    Returns ``(group_col, n_docs, total_tokens, n_chunks)`` — the
    numbers a dataset card reports for the assembled corpus.

    One composition, three shuffles total: the dedup groupBy(content
    hash), the balancing window on ``group_col``, and the final
    per-group aggregate (the quality gate and chunk arithmetic are
    row-local). Chunk counts use the SAME expression chunk_documents
    explodes with (text.chunk_count_expr), so the accounting can never
    drift from the actual splitter.
    """
    from bq_duckdb_spark.ext.dedup import exact_dedup
    from bq_duckdb_spark.ext.text import _tokens, balance_corpus, chunk_count_expr

    toks = _tokens(text_col)
    deduped = exact_dedup(
        df.withColumn("__h", F.md5(F.col(text_col))), ["__h"], id_col
    ).drop("__h")
    gated = deduped.withColumn(
        "__nt", F.expr(f"CAST(size({toks}) AS BIGINT)")
    ).filter(F.col("__nt") >= min_tokens)
    balanced = balance_corpus(gated, group_col, id_col, per_group)
    return (
        balanced.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("total_tokens"),
            F.sum(F.expr(chunk_count_expr("__nt", chunk_tokens, stride))).alias(
                "n_chunks"
            ),
        )
    )
