"""Streaming pipeline building blocks over the events schema
(event_id, ts, user_id, event_type, value, props).

Design for scale:
- file-source streams process new files incrementally (maxFilesPerTrigger
  bounds batch size); the same code runs against Kafka by swapping the
  reader.
- every event-time aggregation carries a watermark so state is bounded
  and late data beyond the horizon is dropped deterministically.
- custom per-key state uses applyInPandasWithState — Arrow-batched,
  partitioned by key, with timeout-based eviction.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bq_duckdb_spark.sources.readers import open_parquet

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # ts has shipped as TIMESTAMP(NANOS) (epoch-nanos long under
        # nanosAsLong) in some rounds and TIMESTAMP(MICROS) in others;
        # read_event_stream probes the footer and adapts
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events parquet directory; ts normalized
    to a proper timestamp column for event-time semantics."""
    from bq_duckdb_spark.testdata import normalize_event_ts

    # runtime-settable; required for TIMESTAMP(NANOS) parquet regardless
    # of how the caller built the session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # file streams need an explicit schema; take it from the footer so
    # either physical ts type works
    schema = open_parquet(spark, path)[0].schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return normalize_event_ts(df)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation per event_type.

    The watermark bounds state: windows older than (max event time −
    watermark) finalize and evict; later-arriving events are dropped."""
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows with an inactivity gap — the streaming
    twin of the batch q_sessionize operator (session_window merges
    events whose gaps are below the threshold)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _update_user_stats(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, float("-inf")
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx],
        }
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user stats across micro-
    batches via applyInPandasWithState (update output mode). State lives
    partitioned by user_id in the state store; Arrow batches keep the
    Python exchange vectorized."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType([T.StructField("y", T.DoubleType())])


def _make_update_ewma(alpha: float):
    beta = 1.0 - alpha

    def _update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        y = state.get[0] if state.exists else None
        # a group's micro-batch rows arrive as MULTIPLE Arrow chunks
        # (split at arrow.maxRecordsPerBatch, arbitrary row placement) —
        # sorting per chunk would fold across chunks out of time order,
        # so gather the whole batch, sort ONCE, then fold; cross-batch
        # order is the arrival order a time-partitioned source gives
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for x in pdf["value"].to_numpy():
                x = float(x)
                y = x if y is None else alpha * x + beta * y
        if y is not None:
            state.update((y,))
            yield pd.DataFrame({"user_id": [key[0]], "ewma": [y]})

    return _update


def stateful_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming twin of operators/timeseries.ewma for UNBOUNDED
    per-key histories: the state store keeps only the running smoothed
    value per key (O(1) state, vs the batch operator's per-key history
    buffer), and each micro-batch folds its in-order events on top.
    Emits the per-key EWMA after every batch (update mode); the final
    emission equals the batch operator's last row per key when events
    arrive time-ordered across batches."""
    return events.groupBy("user_id").applyInPandasWithState(
        _make_update_ewma(alpha),
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_PATTERN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_id", T.LongType()),
        T.StructField("click_id", T.LongType()),
        T.StructField("purchase_id", T.LongType()),
    ]
)

# the full pattern-matcher automaton state: running error count plus the
# latest view anchor and the latest click anchor (carrying the view
# anchor as of that click) — O(1) per key for ANY stream length
_PATTERN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ecum", T.LongType()),
        T.StructField("view_id", T.LongType()),
        T.StructField("view_ecum", T.LongType()),
        T.StructField("click_id", T.LongType()),
        T.StructField("click_view_id", T.LongType()),
        T.StructField("click_view_ecum", T.LongType()),
    ]
)


def _update_event_pattern(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        ecum, v_id, v_ec, c_id, c_vid, c_vec = state.get
    else:
        ecum, v_id, v_ec, c_id, c_vid, c_vec = 0, None, None, None, None, None
    # gather every Arrow chunk, sort ONCE by event_id (chunk splits are
    # arbitrary; sorting per chunk would run the automaton out of order)
    chunks = [pdf for pdf in batches if len(pdf)]
    out: list[tuple] = []
    if chunks:
        pdf = pd.concat(chunks).sort_values("event_id")
        for eid, et in zip(
            pdf["event_id"].to_numpy(), pdf["event_type"].to_numpy()
        ):
            eid = int(eid)
            if et == "error":
                ecum += 1
            elif et == "view":
                v_id, v_ec = eid, ecum
            elif et == "click":
                # the LATEST click always wins, carrying whatever view
                # anchor exists at this moment (possibly none) — exactly
                # the batch operator's struct-max semantics
                c_id, c_vid, c_vec = eid, v_id, v_ec
            elif et == "purchase":
                if c_id is not None and c_vid is not None and ecum == c_vec:
                    out.append((key[0], c_vid, c_id, eid))
    state.update((ecum, v_id, v_ec, c_id, c_vid, c_vec))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "view_id", "click_id", "purchase_id"]
        )


def stream_event_pattern(events: DataFrame) -> DataFrame:
    """Streaming twin of contract_tier3.q_event_pattern: the same
    view→click→purchase automaton with the no-error-between guard, run
    incrementally with applyInPandasWithState. State per user is the
    constant-size automaton register set (error count + two anchors),
    so a 100 TB / unbounded stream never grows state; matched patterns
    append as their purchase events arrive. Streamed == batch when
    shards arrive in ascending event_id order per key (the same
    delivery contract every ordered twin in this module documents)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_event_pattern,
        outputStructType=_PATTERN_OUT_SCHEMA,
        stateStructType=_PATTERN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_exact(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — the ingestion-time twin of the batch
    ``ext.dedup.exact_dedup``: keep the first occurrence of each key,
    with state bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark``: duplicates arriving within the
    watermark of the first occurrence are dropped; state for keys older
    than the horizon evicts, so a continuously-ingesting 100 TB pipeline
    never accumulates unbounded dedup state)."""
    key_cols = key_cols or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def click_attribution(
    events: DataFrame, horizon: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join: attribute every click to the view(s)
    by the same user within ``horizon`` before it.

    Both sides carry watermarks, so the join state is bounded: a
    buffered view can be evicted once the click-side watermark passes
    ``view_ts + horizon``, and vice versa — Spark derives the state
    cleanup condition from the time-bound join predicate.  This is the
    canonical scale shape for event-to-event correlation: an unbounded
    stream join without a time bound would accumulate state forever.
    Works identically on a batch DataFrame (the streamed result equals
    the batch interval join — pinned in tests/test_streaming.py)."""
    is_stream = events.isStreaming
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    if is_stream:
        v = v.withWatermark("view_ts", watermark)
        c = c.withWatermark("click_ts", watermark)
    cond = F.expr(
        f"user_id = click_user_id AND click_ts > view_ts "
        f"AND click_ts <= view_ts + INTERVAL {horizon}"
    )
    return v.join(c, cond, "inner").select(
        "click_id", "view_id", "user_id", "view_ts", "click_ts"
    )


def view_conversion_outer(
    events: DataFrame, horizon: str = "10 minutes", watermark: str = "1 minutes"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view with the
    click(s) it converted to within ``horizon`` — or a NULL click if it
    never converted. The hard part of outer stream joins is the null
    side: Spark may only emit an unmatched view once the CLICK-side
    watermark has passed ``view_ts + horizon`` (before that, a matching
    click could still arrive), so null rows trail the data by the
    watermark delay and surface in a LATER microbatch. Consumers (and
    the parity test) must therefore keep the input source open long
    enough for the watermark to cross the last view's horizon — with
    file sources, a newer file per trigger advances it batch over
    batch. State stays bounded exactly as in the inner join
    (click_attribution); only the emission timing differs. On a batch
    DataFrame this is the plain left-outer interval join."""
    is_stream = events.isStreaming
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    if is_stream:
        v = v.withWatermark("view_ts", watermark)
        c = c.withWatermark("click_ts", watermark)
    cond = F.expr(
        f"user_id = click_user_id AND click_ts > view_ts "
        f"AND click_ts <= view_ts + INTERVAL {horizon}"
    )
    return v.join(c, cond, "left_outer").select(
        "view_id", "user_id", "view_ts", "click_id", "click_ts"
    )


def run_available_now(df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain all currently-available input into an in-memory sink and
    block until done — deterministic harness for tests/demos."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# streaming corpus-prep (ingestion-time twins of ext/pipeline.py)
# ---------------------------------------------------------------------------

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a documents parquet directory — each new
    file is an arriving corpus shard."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_repetition_filter(
    docs: DataFrame, text_col: str = "text", ngram: int = 3, **thresholds
) -> DataFrame:
    """Ingestion-time Gopher repetition filtering: the batch operator is
    map-only (per-row expressions, zero shuffles), so it composes with a
    stream unchanged — stateless, append-mode, watermark-free."""
    from bq_duckdb_spark.ext.pipeline import repetition_filter

    return repetition_filter(docs, text_col, ngram=ngram, **thresholds)


def decontaminate_each_batch(
    heldout: DataFrame, text_col: str, id_col: str, n: int = 5, out_dir: str = ""
):
    """foreachBatch writer running the BATCH decontamination operator on
    every arriving micro-batch (shard) against a static held-out set.

    The per-doc contamination decision only needs the doc's own n-grams
    and the static held-out set, so shard-at-a-time processing gives
    exactly the batch answer — no cross-batch state. The held-out n-gram
    table broadcasts inside each batch, same as the batch plan. This is
    the idiomatic Structured Streaming shape for batch logic with joins
    + aggregations per shard (foreachBatch), and the parquet sink makes
    the output restart-safe (batch ids are transactional)."""
    if not out_dir:
        raise ValueError(
            "decontaminate_each_batch requires out_dir= (the parquet sink "
            "path) — validated eagerly so a forgotten kwarg fails here, "
            "not with a confusing empty-path write at the first micro-batch"
        )
    from bq_duckdb_spark.ext.pipeline import decontaminate

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        out = decontaminate(batch_df, heldout, text_col, id_col, n=n)
        out.write.mode("append").parquet(out_dir)

    return _write


def perplexity_filter_each_batch(
    ref: DataFrame,
    max_nll: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_oov_ratio: float = 1.0,
    k: float = 0.5,
    out_dir: str = "",
):
    """foreachBatch writer running the held-out LM perplexity cut
    (ext/lm.py) on every arriving micro-batch against a model trained
    ONCE on the static reference corpus.

    The per-doc score needs only the doc's own tokens plus the static
    vocab, so shard-at-a-time gives exactly the batch answer — no
    cross-batch state.  The model is trained once here — unigram_lm
    eagerly materializes the term counts (localCheckpoint), so each
    micro-batch re-derives the vocab from the checkpointed vocab-sized
    table instead of re-aggregating the reference corpus (at 100 TB,
    write the vocab to parquet at rest instead and pass it through
    ext/lm.score_with_lm).  The parquet sink keeps the output
    restart-safe (batch ids are transactional)."""
    if not out_dir:
        raise ValueError(
            "perplexity_filter_each_batch requires out_dir= (the parquet "
            "sink path) — validated eagerly so a forgotten kwarg fails "
            "here, not at the first micro-batch"
        )
    from bq_duckdb_spark.ext.lm import filter_with_model, unigram_lm

    vocab, oov = unigram_lm(ref, text_col, k)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        filter_with_model(
            batch_df, vocab, oov, max_nll, max_oov_ratio, text_col, id_col
        ).write.mode("append").parquet(out_dir)

    return _write


def stream_near_dup_probe(
    doc_stream: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Ingestion-time near-dup detection: probe each arriving document
    against a STATIC corpus via MinHash-LSH banding — the streaming
    twin of ext.dedup_portable.cross_corpus_near_dups.

    Shape: the stream side's banding (shingle hash, permutations, band
    buckets, explode) is entirely map-side, so it streams statelessly;
    the banded corpus is a static frame joined per micro-batch on
    (band, bucket) — a stream-static equi-join, never a nested loop.
    The exact-Jaccard verify runs inline on the joined row (both
    shingle sets are present), so the operator needs NO streaming
    state at all: no watermark, no aggregation buffers, append mode.

    A pair co-bucketed in several bands is emitted once per band (the
    ``band`` column is kept so consumers see why); collapsing those
    duplicates inside the stream would cost a stateful aggregation —
    the batch consumer's own groupBy gets it for free instead. At
    100 TB the static side should be the banded corpus written
    partitioned by (band, bucket) at rest (operators/skew.py), making
    each micro-batch probe a pruned read.

    Output: (corpus_id, stream_id, band, jaccard >= threshold).
    """
    from bq_duckdb_spark.ext.dedup_portable import banded_with_shingles

    cb = banded_with_shingles(
        corpus, text_col, id_col, "corpus_id", num_hashes, bands, shingle_k
    )
    sb = banded_with_shingles(
        doc_stream, text_col, id_col, "stream_id", num_hashes, bands, shingle_k
    )
    return (
        sb.join(cb, ["band", "bucket"])
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(__sh_corpus_id, __sh_stream_id)) "
                "/ size(array_union(__sh_corpus_id, __sh_stream_id))"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "stream_id", "band", "jaccard")
    )


def _read_earlier_state(spark: SparkSession, state_dir: str, batch_id: int):
    """Shared state read for idempotent foreachBatch writers: rows of
    batches STRICTLY earlier than the current one (so a retried batch
    never sees its own partial write), or None when no state exists
    yet. Only the initial read is guarded (missing-dir on the first
    batch); any later failure propagates so the streaming query retries
    the batch — swallowing it would silently reset accumulated state.
    """
    from pyspark.sql.utils import AnalysisException

    try:
        state = open_parquet(spark, state_dir)[0]
    except AnalysisException:
        return None
    return state.filter(F.col("batch") < batch_id)


def substring_dedup_each_batch(
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    out_dir: str = "",
    state_dir: str = "",
):
    """foreachBatch writer for ingestion-time SUBSTRING dedup
    (ext/pipeline.substring_dedup): each arriving shard is cut against
    every window key seen in earlier shards AND within itself, then the
    shard's keys join the seen-set.

    Streamed == batch when shards arrive in ascending id order (the
    same contract as the incremental-dedup entry): the global first
    occurrence of a window then lands in the earliest shard holding it,
    and the within-shard rank reproduces the global (id, pos) order
    restricted to unseen keys — pinned against the batch operator in
    tests.

    State is a parquet table of xxhash64 window keys (8 bytes/key at
    rest, the hash_windows=True trade): per batch it costs one join of
    the shard's probes against the key table and one overwrite of the
    shard's new keys — the shard never reshuffles, and the state table
    grows with DISTINCT corpus windows, not occurrences.

    Retry safety (a foreachBatch function must provide its own
    idempotence — plain appends would duplicate on a batch retry, and
    a state write landing before the checkpoint commit would make the
    retry see the batch's OWN keys as 'seen' and wrongly cut every
    first occurrence): both sinks write to fixed per-batch
    subdirectories (``batch=<id>``, overwritten on retry), and the
    seen-set read filters to batches STRICTLY EARLIER than the current
    one. Output and state are therefore hive-partitioned by ``batch``;
    readers of the output can drop that column.
    """
    if not out_dir or not state_dir:
        raise ValueError(
            "substring_dedup_each_batch requires out_dir= and state_dir= "
            "(parquet sink + seen-window-key table) — validated eagerly "
            "so a forgotten kwarg fails here, not at the first micro-batch"
        )
    from pyspark.sql import Window

    from bq_duckdb_spark.ext.pipeline import (
        _substr_cut,
        _substr_tok_base,
        _substr_windows,
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = _substr_tok_base(batch_df, text_col, id_col)
        wins, key = _substr_windows(base, id_col, k, hash_windows=True)
        state = _read_earlier_state(spark, state_dir, batch_id)
        seen = (
            state.select(key).withColumn("__seen", F.lit(True))
            if state is not None
            else None
        )
        if seen is not None:
            marked = wins.join(seen, key, "left")
        else:
            marked = wins.withColumn("__seen", F.lit(None).cast("boolean"))
        w = Window.partitionBy(key).orderBy(id_col, "pos")
        dup_pos = (
            marked.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__seen").isNotNull() | (F.col("__rn") > 1))
            .select(id_col, "pos")
        )
        # fixed per-batch subdirectories, overwritten on retry —
        # idempotent without any append bookkeeping
        _substr_cut(base, dup_pos, text_col, id_col, k).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")
        new_keys = wins.select(key).distinct()
        if seen is not None:
            new_keys = new_keys.join(seen, key, "left_anti")
        new_keys.write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")

    return _write


def incremental_dedup_each_batch(
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    out_dir: str = "",
    state_dir: str = "",
):
    """foreachBatch writer for ingestion-time NEAR-DUP dedup — the
    streaming twin of the incremental batch operator
    (ext/dedup_portable.cross_corpus_near_dups / the
    ``dedup_incremental`` contract entry).

    Each arriving shard emits near-dup pairs (id_a, id_b, jaccard):

    * CROSS pairs — shard docs vs every doc ingested by earlier
      batches. The corpus state is kept PRE-BANDED at rest (one row
      per (doc, band) carrying the shingle set — exactly the
      banded-corpus-at-rest layout the batch operator's docstring
      prescribes for 100 TB), so the probe is a broadcast hash join of
      the shard's buckets against the state scan: no re-shingling and
      no shuffle of anything corpus-sized, per batch.
    * WITHIN pairs — near-dups inside the shard itself
      (portable_jaccard_pairs), so the union over all batches covers
      every pair the one-shot batch pipeline would find regardless of
      which shard boundary separated the two docs.

    Streamed == the sequential batch fold (for each shard i:
    cross_corpus_near_dups(shards<i, shard_i) + within-shard pairs) —
    pinned in tests; the portable hash family makes every stage
    deterministic.

    Retry safety (a foreachBatch function must provide its own
    idempotence): both sinks write fixed per-batch subdirectories
    (``batch=<id>``, overwritten on retry) and the state read filters
    to batches STRICTLY EARLIER than the current one, so a re-delivered
    batch neither duplicates output nor probes its own docs.
    """
    if not out_dir or not state_dir:
        raise ValueError(
            "incremental_dedup_each_batch requires out_dir= and "
            "state_dir= (pair sink + banded-corpus state table) — "
            "validated eagerly so a forgotten kwarg fails here, not at "
            "the first micro-batch"
        )
    from bq_duckdb_spark.ext import dedup_portable as dp

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bb = dp.banded_with_shingles(
            batch_df, text_col, id_col, "batch_id",
            num_hashes, bands, shingle_k,
        )
        state = _read_earlier_state(spark, state_dir, batch_id)
        within = dp.portable_jaccard_pairs(
            batch_df, text_col, id_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
        if state is not None:
            cross = dp.banded_pair_verify(
                state.withColumnRenamed("sh", "__sh_corpus_id"),
                bb,
                threshold,
            ).select(
                F.col("corpus_id").alias("id_a"),
                F.col("batch_id").alias("id_b"),
                "jaccard",
            )
            pairs = cross.unionByName(within)
        else:
            pairs = within
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        # shard joins the corpus: banded layout at rest, one write
        bb.select(
            F.col("batch_id").alias("corpus_id"),
            F.col("__sh_batch_id").alias("sh"),
            "band",
            "bucket",
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")

    return _write


def heavy_hitter_summary_each_batch(
    item_col: str = "term", s: int = 1000, state_dir: str = ""
):
    """foreachBatch writer maintaining a corpus-wide Misra-Gries
    heavy-hitter summary over an ITEM stream (project/explode the
    document stream to one item column upstream).

    Per batch: per-partition MG summaries (ext/heavyhitters.
    mg_candidates with counts) collect at most s x partitions rows to
    the driver, merge into the previous batch's summary with the
    mergeable-summaries rule, and the result — at most ``s`` rows —
    is written whole. The LIVE summary is therefore bounded at s
    entries no matter how long the stream runs (and the state
    directory holds at most the last two batch summaries — older
    ``batch=<id>`` subdirs are pruned after each successful write,
    keeping the predecessor for retry safety). Every item whose total
    stream count exceeds n/(s+1) is guaranteed present (undercount
    <= n/(s+1) after any merge sequence). An exact-count readout, when
    needed, is one batch verify join against the archived corpus —
    the same two-phase split as the batch operator.

    Retry safety: the summary for batch N is a pure function of the
    summary for the latest batch < N plus batch N's own rows; it
    writes to a fixed ``batch=<id>`` subdir (overwritten on retry) and
    reads only strictly-earlier batches — same idempotence scheme as
    substring_dedup_each_batch.
    """
    if not state_dir:
        raise ValueError(
            "heavy_hitter_summary_each_batch requires state_dir= — "
            "validated eagerly so a forgotten kwarg fails here, not at "
            "the first micro-batch"
        )
    if item_col in ("est", "batch"):
        raise ValueError(
            f"item_col {item_col!r} collides with the summary's own "
            "'est'/'batch' columns — rename the item column upstream"
        )
    from bq_duckdb_spark.ext.heavyhitters import merge_summaries, mg_candidates

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = None
        state = _read_earlier_state(spark, state_dir, batch_id)
        if state is not None:
            latest = state.agg(F.max("batch").alias("b")).collect()[0]["b"]
            if latest is not None:
                prev = {
                    r[item_col]: r["est"]
                    for r in state.filter(F.col("batch") == latest).collect()
                }
        parts = mg_candidates(
            batch_df.select(item_col), item_col, s, with_counts=True
        ).collect()
        batch_counts: dict = {}
        for r in parts:
            batch_counts[r[item_col]] = (
                batch_counts.get(r[item_col], 0) + r["__mg_est"]
            )
        summary = merge_summaries(prev, batch_counts, s)
        # type-generic state schema: the item column keeps its stream
        # type (a hardcoded 'string' DDL would crash the first batch of
        # any numeric item stream)
        out_schema = T.StructType(
            [
                T.StructField(item_col, batch_df.schema[item_col].dataType),
                T.StructField("est", T.LongType()),
            ]
        )
        spark.createDataFrame(list(summary.items()), out_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")
        # prune history: reads only ever touch the latest earlier batch,
        # so keep batch_id-1 (retry safety) and drop everything older —
        # without this a long-running stream accumulates one subdir per
        # trigger and every read relists the whole history. (os-level:
        # local-FS state dirs; on an object store this is a no-op and an
        # external lifecycle rule does the pruning.)
        import glob as _glob
        import os as _os
        import shutil as _shutil

        for d in _glob.glob(_os.path.join(state_dir, "batch=*")):
            try:
                b = int(d.rsplit("=", 1)[1])
            except ValueError:
                continue
            if b < batch_id - 1:
                _shutil.rmtree(d, ignore_errors=True)

    return _write


def merge_each_batch(session, merge_sql: str, source_name: str = "stream_src"):
    """foreachBatch writer: streaming CDC upsert into an engine table.

    Each arriving micro-batch is registered as the session table
    ``source_name`` and ``merge_sql`` (a BigQuery-dialect MERGE naming
    that source) runs through the engine — the same MERGE surface, the
    same multi-match cardinality check, the same wire-visible result a
    batch client sees. foreachBatch is the idiomatic Structured
    Streaming shape for sink-side upserts: the sink (here the session
    catalog) applies each batch transactionally in trigger order, and a
    replayed batch re-registers the identical source frame, so an
    idempotent MERGE (deterministic SET from the source row) converges
    to the same table state on retry.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands the batch to a CLONED SparkSession whose
        # local temp views the engine session cannot see; a GLOBAL temp
        # view bridges the two, and the engine re-resolves it in its
        # own session before registering the MERGE source.
        gname = f"__merge_batch_{source_name}"
        batch_df.createOrReplaceGlobalTempView(gname)
        session.register_dataframe(
            source_name, session.spark.table(f"global_temp.{gname}")
        )
        session.query(merge_sql)

    return _write


def stream_mixture(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Ingestion-time mixture materialization: the batch operator is a
    deterministic map-only generate (hash-thresholded epoch counts, no
    rand(), no state), so it composes with a stream unchanged —
    stateless, append-mode, and replay-safe: a re-delivered shard
    produces byte-identical (doc, epoch) rows, so downstream exact
    dedup or idempotent sinks see no divergence."""
    from bq_duckdb_spark.ext.pipeline import mixture_sample

    return mixture_sample(docs, source_col, id_col, weights or {}, seed=seed)
