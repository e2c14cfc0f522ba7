"""Structured Streaming ingestion for the extraction pipeline.

The reference is pure batch (SURVEY.md §2.7); its closest analogs are
step-wise metric logging and periodic checkpoint/resume.  This module
is the engine's stream-ingest path for the same per-turn semantics:

- :func:`run_stream` runs :func:`pipeline.extract_turns` (native
  classify + span and token-count UDFs) on a file-source stream as a
  stateless transformation: no shuffle, no state store, and the rows
  it writes are ``EXTRACT_SCHEMA`` rows identical to the batch
  extraction of the same turns.
- :func:`run_dedup_stream` and :func:`run_clean_stream` drain the
  stateful exact-dedup and clean pipelines.

All three drain through one ``trigger(availableNow=True)`` +
``foreachBatch`` commit (:func:`_drain`): each micro-batch writes its
rows AND a one-row lineage record (``lineage.lineage_row``) whose
counters are observed on the data write itself, the streaming twin of
lineage.CheckpointedExtraction.  ``run_stream`` observes the five
``lineage.observe_lineage`` counters; dedup and clean observe their
emitted row count (``n_turns``) and return its sum over the drain, so
no drain re-reads its sink.  foreachBatch itself is only
at-least-once, so both writes are batch_id-keyed overwrites
(idempotent): a crash between the data write and the checkpoint
commit replays the batch into the same ``batch_id=<id>`` directory,
and the end-to-end result stays exactly-once (file-source offsets and
dedup state are tracked in the checkpoint).

Every extraction column depends only on its own turn (an assistant row
implies its conversation has an assistant turn), so a conversation
whose turns arrive in different micro-batches needs no buffering: each
turn's row is final when it is written.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.lineage import lineage_row, observe_lineage
from ocr_spark.pipeline import extract_turns

#: Canonical transcript schema (BASELINE.json input_hint); streaming
#: sources must declare it explicitly (no inference on streams).
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files: int = 64
) -> DataFrame:
    """File-source stream of transcript turns (JSONL drop directory).

    ``maxFilesPerTrigger`` bounds micro-batch size so a backlogged
    directory doesn't produce one giant batch on catch-up.
    """
    return (
        spark.readStream.format("json")
        .schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(input_dir)
    )


def _drain(
    stream: DataFrame, output_dir: str, observe
) -> tuple[StreamingQuery, dict[int, dict]]:
    """Drain ``stream`` into ``output_dir`` in one availableNow query.

    Layout: ``data/batch_id=<id>/`` rows, ``lineage/batch_id=<id>/``
    one row per micro-batch (the counters ``observe(df) -> (df,
    Observation)`` gathers on the data write, then ``wall_sec`` and
    ``committed_at``), ``_checkpoint/`` the Spark streaming WAL and
    state (the resume point).  Returns the terminated query and the
    counters of the micro-batches this drain committed, by batch id.
    """
    committed: dict[int, dict] = {}

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash after the write but
        # before the checkpoint commit replays the micro-batch.  Writes
        # are therefore keyed on batch_id — a deterministic
        # ``batch_id=<id>`` partition directory with mode=overwrite — so
        # a replay overwrites its own output instead of duplicating it
        # (the replayed batch has identical rows: file-source offsets
        # come from the checkpoint WAL).  Readers of the parent dir get
        # batch_id back as a discovered partition column.  The counters
        # are observed on the data write: same job, no cache.
        t0 = time.time()
        part = f"batch_id={int(batch_id)}"
        observed, obs = observe(batch_df)
        observed.write.mode("overwrite").parquet(os.path.join(output_dir, "data", part))
        counters = committed[int(batch_id)] = obs.get
        row = lineage_row(batch_df.sparkSession, counters, round(time.time() - t0, 3))
        row.write.mode("overwrite").parquet(os.path.join(output_dir, "lineage", part))

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q, committed


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n_turns")), obs


def _drain_rows(stream: DataFrame, output_dir: str) -> int:
    """:func:`_drain` counting rows; the rows this drain emitted."""
    _, committed = _drain(stream, output_dir, _observe_rows)
    return sum(c["n_turns"] for c in committed.values())


def run_stream(spark: SparkSession, input_dir: str, output_dir: str, vocab=None) -> StreamingQuery:
    """Drain all available input into ``output_dir`` with lineage.

    Layout as :func:`_drain`; each lineage row carries the
    ``lineage.observe_lineage`` counters, the columns of a bucket
    commit's lineage row.  Returns the terminated query handle.
    """
    extracted = extract_turns(read_transcript_stream(spark, input_dir), vocab)
    return _drain(extracted, output_dir, observe_lineage)[0]


def stream_turn_rate(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed per-role turn counts with a late-data
    watermark — the streaming twin of the batch A13/A1 reductions.

    State is bounded by the watermark: windows older than (max event
    time - watermark) are finalized and their state dropped, so the
    aggregation runs indefinitely at 10^12-turn scale.  Late turns
    inside the watermark still update their window (per-turn
    extraction is order-independent, so correctness only needs the
    window accounting, not global ordering)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("role"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role", "n_turns", "total_chars",
        )
    )


def stream_sessionize(
    stream: DataFrame,
    gap: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization — the §2.7 twin of the batch
    ``sessionize_gaps`` operator (queries/agent_ops.py), using Spark's
    native ``session_window``: a session per ``conv_id`` extends while
    consecutive turns arrive within ``gap`` of each other and closes
    once the watermark passes the session end (append mode emits each
    session exactly once).

    Boundary semantics vs the batch operator: ``session_window`` opens
    a new session when the gap is >= ``gap``; the batch lag-formulation
    splits when the gap is strictly > its threshold.  The two agree on
    any input with no gap exactly equal to the threshold (the derived
    corpus by construction; a pytest cross-pins them).

    State is per-open-session per conv_id, dropped at finalization —
    bounded by conversation concurrency, not stream length, so this
    runs indefinitely at 10^12-turn scale."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "n_turns",
        )
    )


def stream_dedup_exact(stream: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming twin of the batch ``dedup_exact`` operator: emit each
    distinct turn content exactly once across the whole stream.

    The fingerprint is md5 over (role, text) — the same content
    identity the batch operator groups on — and the dedup is Spark's
    stateful streaming ``dropDuplicates``: the state store remembers
    seen fingerprints across micro-batches AND across restarts (the
    checkpoint carries the state), so a turn replayed in a later file
    drop is suppressed, not re-emitted.

    State growth is the operational contract: with ``watermark=None``
    the seen-fingerprint set grows without bound (correct for bounded
    backfills).  At 10^12-turn scale pass a watermark (e.g. ``"24
    hours"``) to get ``dropDuplicatesWithinWatermark`` — duplicates
    arriving within the horizon are suppressed, state older than the
    horizon is dropped, which is the standard at-scale trade (crawl
    re-fetches cluster in time).
    """
    fp = F.md5(F.concat_ws("\x1f", F.col("role"), F.col("text")))
    out = stream.withColumn("fp", fp)
    if watermark is not None:
        return out.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def stream_clean(stream: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming twin of the batch ``clean_corpus`` pipeline: normalize
    each turn's payload, attach the Gopher-rule verdict, and suppress
    cross-micro-batch duplicates of the NORMALIZED text.

    Normalize-before-dedup is the point: two drops whose raw bytes
    differ only by curly quotes / NBSP / case collide on the same
    normalized fingerprint, so the later one is suppressed — exactly
    what the batch pipeline's norm_text window does, but incremental
    and restart-safe (the seen-fingerprint state lives in the
    checkpoint).  Verdict computation is stateless map-work per
    micro-batch; only the dedup holds state.  Lineage difference vs
    batch, stated plainly: batch clean_corpus emits a 'duplicate'
    verdict row for suppressed docs, a streaming dropDuplicates emits
    nothing for them — count emitted-vs-input per drain if reject
    counts are needed.  Same watermark contract as
    :func:`stream_dedup_exact`.
    """
    from ocr_spark.queries.ccnet_ops import gopher_verdict_col, norm_col

    out = (
        stream.withColumn("norm_text", norm_col(F.col("text")))
        .withColumn("fp", F.md5(F.col("norm_text")))
        .withColumn("verdict", gopher_verdict_col(F.col("norm_text")))
        .withColumn("kept", F.col("verdict") == "kept")
    )
    if watermark is not None:
        return out.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def run_clean_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    watermark: str | None = None,
) -> int:
    """Drain a turn drop directory through the streaming clean pipeline
    into ``output_dir`` (same layout/contract as
    :func:`run_dedup_stream`); returns rows emitted by THIS drain."""
    stream = read_transcript_stream(spark, input_dir, max_files=1)
    return _drain_rows(stream_clean(stream, watermark), output_dir)


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    watermark: str | None = None,
) -> int:
    """Drain a turn drop directory through the streaming exact-dedup
    into ``output_dir``, one micro-batch per drop file (layout as
    :func:`_drain`: ``data/batch_id=<id>`` rows and an ``n_turns``
    lineage row per micro-batch), with the state checkpoint under
    ``output_dir/_checkpoint`` so repeated drains keep suppressing
    previously-seen content.  Returns the
    number of rows emitted by THIS drain (not the cumulative total):
    the sum of its micro-batches' observed ``n_turns``.
    """
    stream = read_transcript_stream(spark, input_dir, max_files=1)
    return _drain_rows(stream_dedup_exact(stream, watermark), output_dir)


def stream_tool_enrich(
    turns: DataFrame,
    tool_events: DataFrame,
    max_lag: str = "10 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join (§2.7): enrich each turn
    with the tool invocations that preceded it in the SAME conversation
    within ``max_lag`` — the streaming twin of the batch
    ``asof_tool_join`` (queries/agent_ops.py), except a stream cannot
    sort-and-lag, so the join is the watermark-bounded interval form
    Structured Streaming supports natively.

    Both sides carry a watermark and the join predicate bounds
    ``tool_ts`` to ``[ts - max_lag, ts]``, so Spark can expire buffered
    rows on each side once the other side's watermark passes them —
    state is bounded by (watermark + max_lag) worth of traffic, not
    stream length, which is what lets this run indefinitely at
    10^12-turn scale.  Append mode; a matched pair is emitted exactly
    once.

    ``how`` selects the join mode.  ``"inner"`` emits matches as soon
    as both rows exist; ``"left_outer"`` additionally emits each
    UNMATCHED turn (null tool columns) — but only once the watermark
    has passed the turn's entire candidate interval, because until
    then a matching tool event could still arrive.  The outer rows are
    therefore watermark-delayed by construction: a drain whose final
    watermark never passes a turn's interval will hold that turn's
    outer row in state, exactly as a late tool event requires.
    """
    a = turns.withWatermark("ts", watermark)
    b = (
        tool_events.select(
            F.col("conv_id").alias("t_conv_id"),
            F.col("tool").alias("tool_name"),
            F.col("ts").alias("tool_ts"),
        )
        .withWatermark("tool_ts", watermark)
    )
    cond = (
        (a["conv_id"] == b["t_conv_id"])
        & (b["tool_ts"] >= F.expr(f"ts - interval {max_lag}"))
        & (b["tool_ts"] <= a["ts"])
    )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join mode: {how!r}")
    return a.join(b, cond, how).select(
        "conv_id", "turn_idx", "role", "ts", "tool_name", "tool_ts"
    )


def run_merge_stream(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    key: str = "conv_id",
) -> StreamingQuery:
    """CDC-style streaming MERGE sink: drain a stream of keyed change
    rows and apply each micro-batch to a bucketed snapshot with
    :func:`ocr_spark.maintenance.merge_upsert_cow` (upsert on ``key``,
    tombstone delete where ``tool == 'DELETE'``), rewriting only the
    buckets the batch touches.

    The table is ``_bucket=K/`` directories plus ``_buckets.json``; read
    it with ``maintenance.read_bucketed_snapshot``.  A missing table is
    seeded empty (16 buckets on ``key``, no bucket directory yet; it
    reads as 0 rows of ``TRANSCRIPT_SCHEMA``); a flat parquet table, or
    one bucketed on another key, raises ``ValueError`` before the query
    starts.

    Replay safety without batch_id-keyed directories: ``foreachBatch``
    is at-least-once, and a keyed MERGE is IDEMPOTENT — re-applying the
    same change batch overwrites each key with the same row (or
    re-deletes an already-absent key), so the crash-replayed batch
    converges to the state it already produced.  Cross-batch ordering
    is the streaming WAL's (file-source offsets), so last-writer-wins
    follows arrival order.  The change schema is the transcript shape;
    a production CDC feed would carry an explicit op column — the
    ``tool == 'DELETE'`` encoding keeps the synthetic schema.
    """
    from ocr_spark.maintenance import (
        DELETE_COL,
        bucket_layout,
        merge_upsert_cow,
        write_bucketed_snapshot,
    )

    if not os.path.exists(table_path):
        # an empty RDD has no partitions: the seed write slices nothing
        empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), TRANSCRIPT_SCHEMA)
        write_bucketed_snapshot(spark, empty, table_path, key=key)
    table_key = bucket_layout(table_path)[0]
    if table_key != key:
        raise ValueError(f"{table_path} is bucketed on {table_key!r}, not on {key!r}")

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        # within one micro-batch, keys must be unique for MERGE: keep
        # the last row per key by max(turn_idx) (arrival-order proxy in
        # the synthetic feed); an empty batch touches no bucket
        w = Window.partitionBy(key).orderBy(F.col("turn_idx").desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        with_flag = latest.withColumn(DELETE_COL, F.col("tool") == F.lit("DELETE"))
        merge_upsert_cow(batch_df.sparkSession, table_path, with_flag)

    q = (
        read_transcript_stream(spark, input_dir).writeStream.foreachBatch(commit_batch)
        .option(
            "checkpointLocation", table_path.rstrip("/") + "__merge_ckpt"
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
