"""Checkpointed, resumable extraction with per-partition lineage.

North_rule (BASELINE.json): "resumable from Iceberg snapshot
checkpoints with per-partition lineage rows (partition id, turn count,
extraction-success/fallback counters, wall-time) written to a metrics
table, so a killed run restarts from the last committed snapshot
without reprocessing".  The reference's analog is step-stamped
checkpoint dirs plus resume-by-reloading (train_cities_steering.py:723-727,
train_lee.py:199-203, act_compare.py:30-48) and step-wise metric logging
(train_cities_steering.py:646-651).

This sandbox has no Iceberg runtime jar, so the snapshot/commit
protocol is implemented on plain parquet with the same semantics an
Iceberg writer would give us:

- the conv_id space is split into ``n_buckets`` deterministic buckets
  (``maintenance.bucket_expr``: ``pmod(xxhash64(conv_id), B)`` —
  key-derived, stable under retries and partition counts);
- ``CheckpointedExtraction.stage_by_bucket`` materializes the input
  once as a bucketed snapshot on conv_id
  (``maintenance.write_bucketed_snapshot``, the stand-in for Iceberg
  hidden partitioning ``bucket(B, conv_id)``), so each commit reads its
  own bucket directory rather than rescanning the table;
- each bucket is extracted and written as one atomic commit:
  data parquet -> lineage row -> manifest update via atomic rename
  (the parquet+manifest pair plays the role of an Iceberg snapshot);
  the lineage counters are observed on the data write itself
  (:func:`observe_lineage`), and the bucket is read with the schema
  the staged snapshot's manifest records, so a commit runs no job
  beyond its two writes;
- a restart reads the manifest and skips committed buckets — the
  anti-join-against-lineage resume of SURVEY.md §2.7.

Commit granularity = bucket, so a kill between commits loses at most
one bucket of work.  Orphan files from a killed in-flight write are
overwritten on retry (mode="overwrite" per bucket directory), which is
exactly Iceberg's unreferenced-file semantics: readers only see
committed snapshots because consumers go through :func:`read_output`
(manifest-filtered), never the raw directory listing.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ocr_spark.maintenance import (
    BUCKET_MANIFEST,
    bucket_expr,
    bucket_layout,
    read_bucketed_snapshot,
    write_bucketed_snapshot,
    write_manifest,
)
from ocr_spark.pipeline import MAX_RENDER_TURNS, extract_conversations

MANIFEST = "_manifest.json"


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, MANIFEST)


def read_manifest(output_dir: str) -> dict:
    p = _manifest_path(output_dir)
    if not os.path.exists(p):
        return {"n_buckets": None, "committed": []}
    with open(p) as f:
        return json.load(f)


def observe_lineage(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with the lineage counters observed on the action that runs it.

    The counters come from that same execution: no cache and no second
    job.  ``Observation.get`` blocks until the action has run.
    ``observe`` rejects DISTINCT aggregates, so ``n_convs`` and
    ``n_rerouted`` are counted on single turn indexes (see
    :class:`BucketStats`); they are exact only when each conversation's
    ``turn_idx`` runs 0, 1, ..., n-1 with no gaps.
    """
    obs = Observation()
    turn, status = F.col("turn_idx"), F.col("status")
    return df.observe(
        obs,
        F.count_if(turn == 0).alias("n_convs"),
        F.count(F.lit(1)).alias("n_turns"),
        F.count_if(status == "ok").alias("n_ok"),
        F.count_if(status == "fallback").alias("n_fallback"),
        F.count_if(turn == MAX_RENDER_TURNS).alias("n_rerouted"),
    ), obs


#: a lineage row: the :func:`observe_lineage` counters, then ``wall_sec``
#: and ``committed_at``.  Lineage tables are read with it, so files from
#: before a counter existed read that column as null.
LINEAGE_SCHEMA = StructType([
    *(StructField(c, LongType())
      for c in ("n_convs", "n_turns", "n_ok", "n_fallback", "n_rerouted")),
    StructField("wall_sec", DoubleType()),
    StructField("committed_at", DoubleType()),
])


def lineage_row(spark: SparkSession, counters: dict, wall_sec: float) -> DataFrame:
    """One lineage row: the observed ``counters`` (longs, in their
    order), then ``wall_sec`` and ``committed_at`` (epoch seconds, now).

    The row is a one-partition range projected to literals:
    ``createDataFrame([row])`` slices its list into defaultParallelism
    partitions, and writing it runs every (mostly empty) slice, seconds
    per one-row write even after ``coalesce(1)``.
    """
    return spark.range(1, numPartitions=1).select(
        *(F.lit(v).cast("long").alias(k) for k, v in counters.items()),
        F.lit(float(wall_sec)).alias("wall_sec"),
        F.lit(time.time()).alias("committed_at"),
    )


@dataclass
class BucketStats:
    """One bucket's lineage row, observed on its data write.

    ``n_convs`` counts rows with ``turn_idx == 0``.  ``n_rerouted``
    keeps its name for existing lineage tables: it counts rows with
    ``turn_idx == MAX_RENDER_TURNS``.  When each conversation's
    ``turn_idx`` runs 0..n-1 with no gaps, these are the bucket's
    conversations and its conversations over ``MAX_RENDER_TURNS``
    turns.  Input that drops turns (e.g. the outputs of
    ``streaming.run_dedup_stream`` / ``run_clean_stream``) breaks that:
    a conversation without turn 0 is missed by ``n_convs``, and
    ``n_rerouted`` follows the turn index, not the row count.
    Extraction is per-turn, so long conversations need no special
    handling; ``n_rerouted`` reports the long-conversation skew."""

    bucket: int
    n_convs: int
    n_turns: int
    n_ok: int
    n_fallback: int
    n_rerouted: int
    wall_sec: float


class CheckpointedExtraction:
    """Run the extraction pipeline bucket-by-bucket with commit points.

    Layout under ``output_dir``::

        _manifest.json            committed bucket ids (atomic rename)
        staged/_bucket=<i>/...    input staged by bucket (one-time), a
        staged/_buckets.json      bucketed snapshot on conv_id
        data/bucket=<i>/...       extracted output per committed bucket
        lineage/bucket=<i>/...    one-row lineage table per bucket,
                                  overwritten by each commit of it

    Input contract: ``(conv_id, turn_idx, role, text)`` rows with each
    conversation's ``turn_idx`` numbered 0..n-1 with no gaps.  The
    extraction itself takes any numbering; the lineage ``n_convs`` and
    ``n_rerouted`` counters rely on it (see :class:`BucketStats`).
    """

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        n_buckets: int = 16,
        writer: "SnapshotWriter | None" = None,
    ):
        from ocr_spark.iceberg import ParquetSnapshotWriter

        self.spark = spark
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        # storage seam (ocr_spark.iceberg): parquet by default; pass an
        # IcebergSnapshotWriter when a real catalog + runtime jar exist
        self.writer = writer or ParquetSnapshotWriter(spark, output_dir)
        os.makedirs(output_dir, exist_ok=True)

    # -- staging ---------------------------------------------------------
    @property
    def staged_dir(self) -> str:
        return os.path.join(self.output_dir, "staged")

    def is_staged(self) -> bool:
        """True once stage_by_bucket committed: the staged snapshot's
        manifest is written after its data."""
        return os.path.exists(os.path.join(self.staged_dir, BUCKET_MANIFEST))

    def stage_by_bucket(self, transcripts: DataFrame) -> None:
        """One-time pass: write the input as a bucketed snapshot on
        conv_id, one file per bucket directory.

        Emulates Iceberg hidden partitioning: each commit then reads
        only ``staged/_bucket=<i>`` rather than re-reading the whole
        table per batch.  ``transcripts`` follows the class's input
        contract (turns 0..n-1, no gaps), unchecked.
        """
        write_bucketed_snapshot(
            self.spark, transcripts.repartition(bucket_expr("conv_id", self.n_buckets)),
            self.staged_dir, key="conv_id", n_buckets=self.n_buckets,
        )

    # -- commit loop -----------------------------------------------------
    def pending_buckets(self) -> list[int]:
        m = read_manifest(self.output_dir)
        if m["n_buckets"] not in (None, self.n_buckets):
            raise ValueError(
                f"manifest has n_buckets={m['n_buckets']}, run configured {self.n_buckets}"
            )
        done = set(m["committed"])
        return [b for b in range(self.n_buckets) if b not in done]

    def run(self, fail_after: int | None = None) -> list[BucketStats]:
        """Process all pending buckets; ``fail_after`` injects a crash
        after N commits (kill/restart testing, SURVEY.md §5).  Input
        staged in another bucket count raises: the run would commit part."""
        staged = bucket_layout(self.staged_dir)[1]
        if staged != self.n_buckets:
            raise ValueError(f"staged n_buckets={staged}, run configured {self.n_buckets}")
        stats: list[BucketStats] = []
        for i, b in enumerate(self.pending_buckets()):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure before bucket {b}")
            stats.append(self._commit_bucket(b))
        return stats

    def _commit_bucket(self, b: int) -> BucketStats:
        t0 = time.time()
        part = read_bucketed_snapshot(self.spark, self.staged_dir, [b])
        out, obs = observe_lineage(extract_conversations(part))
        self.writer.write_bucket_data(out, b)
        counters, wall_sec = obs.get, round(time.time() - t0, 3)
        st = BucketStats(bucket=b, **counters, wall_sec=wall_sec)

        # lineage row first, then manifest: a crash between the two
        # leaves an uncommitted bucket with a dangling lineage row.  The
        # parquet writer puts the row in its own ``bucket=<b>`` partition
        # directory with mode=overwrite (the Iceberg writer appends —
        # its snapshot log supplies the dedup there), so the retry
        # replaces the dangling row instead of double-counting.
        self.writer.write_lineage_row(lineage_row(self.spark, counters, wall_sec), b)

        m = read_manifest(self.output_dir)
        m["n_buckets"] = self.n_buckets
        m["committed"] = sorted(set(m["committed"]) | {b})
        write_manifest(_manifest_path(self.output_dir), m)
        return st

    # -- consumers -------------------------------------------------------
    def read_output(self) -> DataFrame:
        """Committed extraction rows only (manifest-filtered)."""
        m = read_manifest(self.output_dir)
        return self.writer.read_output(m["committed"])

    def read_lineage(self) -> DataFrame:
        """Lineage rows of the committed buckets (manifest-filtered, like
        :meth:`read_output`): the row a crash left between its write and
        the manifest update is not read.  ``bucket`` comes back as the
        discovered partition column (one row per bucket guaranteed by
        the per-bucket overwrite in the parquet writer)."""
        committed = read_manifest(self.output_dir)["committed"]
        return self.writer.read_lineage().filter(F.col("bucket").isin(committed))

