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
  (``pmod(xxhash64(conv_id), B)`` — key-derived, stable under retries
  and partition counts);
- :func:`stage_by_bucket` materializes the input once, directory-
  partitioned by bucket (the stand-in for Iceberg hidden partitioning
  ``bucket(B, conv_id)``) so each batch's scan prunes to its own
  files rather than rescanning the table;
- each bucket is extracted and written as one atomic commit:
  data parquet -> lineage row -> manifest update via atomic rename
  (the parquet+manifest pair plays the role of an Iceberg snapshot);
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.pipeline import MAX_RENDER_TURNS, extract_conversations

MANIFEST = "_manifest.json"


def bucket_of(col, n_buckets: int):
    """Deterministic bucket id for a conv_id column (never random)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, MANIFEST)


def read_manifest(output_dir: str) -> dict:
    p = _manifest_path(output_dir)
    if not os.path.exists(p):
        return {"n_buckets": None, "committed": []}
    with open(p) as f:
        return json.load(f)


def _write_manifest(output_dir: str, manifest: dict) -> None:
    """Atomic replace: a reader/restart never sees a torn manifest."""
    p = _manifest_path(output_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)


@dataclass
class BucketStats:
    """One bucket's lineage row.  ``n_rerouted`` keeps its name for
    existing lineage tables: it counts the bucket's conversations over
    ``MAX_RENDER_TURNS`` turns.  Extraction is per-turn, so these need
    no special handling; the count reports the long-conversation skew."""

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
        staged/bucket=<i>/...     input staged by bucket (one-time)
        data/bucket=<i>/...       extracted output per committed bucket
        lineage/...               parquet metrics table, appended per commit
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
        """True once stage_by_bucket committed (parquet _SUCCESS marker)."""
        return os.path.exists(os.path.join(self.staged_dir, "_SUCCESS"))

    def stage_by_bucket(self, transcripts: DataFrame) -> None:
        """One-time pass: write input partitioned by bucket(conv_id).

        Emulates Iceberg hidden partitioning: per-bucket jobs then scan
        only ``staged/bucket=<i>`` (directory partition pruning) rather
        than re-reading the whole table per batch.
        """
        (
            transcripts.withColumn("bucket", bucket_of(F.col("conv_id"), self.n_buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self.staged_dir)
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
        after N commits (kill/restart testing, SURVEY.md §5)."""
        stats: list[BucketStats] = []
        for i, b in enumerate(self.pending_buckets()):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure before bucket {b}")
            stats.append(self._commit_bucket(b))
        return stats

    def _commit_bucket(self, b: int) -> BucketStats:
        t0 = time.time()
        part = self.spark.read.parquet(os.path.join(self.staged_dir, f"bucket={b}"))
        out = extract_conversations(part).persist()
        self.writer.write_bucket_data(out, b)
        # one counter job: per-conversation counts, then one global row
        agg = (
            out.groupBy("conv_id").agg(
                F.count("*").alias("n"),
                F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
                F.sum((F.col("status") == "fallback").cast("long")).alias("fallback"),
            ).agg(
                F.count("conv_id").alias("n_convs"),
                F.sum("n").alias("n_turns"),
                F.sum("ok").alias("n_ok"),
                F.sum("fallback").alias("n_fallback"),
                F.sum((F.col("n") > MAX_RENDER_TURNS).cast("long")).alias("n_rerouted"),
            ).collect()[0]
        )
        out.unpersist()
        wall = time.time() - t0
        st = BucketStats(
            bucket=b,
            n_convs=agg["n_convs"] or 0,
            n_turns=agg["n_turns"] or 0,
            n_ok=agg["n_ok"] or 0,
            n_fallback=agg["n_fallback"] or 0,
            n_rerouted=agg["n_rerouted"] or 0,
            wall_sec=round(wall, 3),
        )

        # lineage row first, then manifest: a crash between the two
        # leaves an uncommitted bucket with a dangling lineage row.  The
        # parquet writer puts the row in its own ``bucket=<b>`` partition
        # directory with mode=overwrite (the Iceberg writer appends —
        # its snapshot log supplies the dedup there), so the retry
        # replaces the dangling row instead of double-counting.
        lineage = self.spark.createDataFrame(
            [(st.n_convs, st.n_turns, st.n_ok, st.n_fallback,
              st.n_rerouted, st.wall_sec, time.time())],
            "n_convs long, n_turns long, n_ok long, n_fallback long, "
            "n_rerouted long, wall_sec double, committed_at double",
        )
        self.writer.write_lineage_row(lineage, b)

        m = read_manifest(self.output_dir)
        m["n_buckets"] = self.n_buckets
        m["committed"] = sorted(set(m["committed"]) | {b})
        _write_manifest(self.output_dir, m)
        return st

    # -- consumers -------------------------------------------------------
    def read_output(self) -> DataFrame:
        """Committed extraction rows only (manifest-filtered)."""
        m = read_manifest(self.output_dir)
        return self.writer.read_output(m["committed"])

    def read_lineage(self) -> DataFrame:
        """Per-bucket lineage rows; ``bucket`` comes back as the
        discovered partition column (one row per bucket guaranteed by
        the per-bucket overwrite in the parquet writer)."""
        return self.writer.read_lineage()


# ===========================================================================
# S4: step-stamped checkpoint sink + manifest-filtered scan
# ===========================================================================

class StepCheckpoint:
    """Step-stamped artifact checkpointing with resume-by-latest-step.

    The reference saves artifacts under ``step_{N}/`` during long runs
    (train_cities_steering.py:723-727, train_functions_steering.py:401-406)
    and resumes by loading the latest step's files
    (train_lee.py:199-203, analyse_depth.py:36-41, analyse_vectors.py:36-43).
    Spark-side model: each step is one parquet directory written first,
    then committed by an atomic manifest rename — a reader/restart only
    ever sees fully-written steps, so a kill between the parquet write
    and the commit leaves an orphan directory that the next save of the
    same step simply overwrites (the same unreferenced-file semantics
    as the bucket commits above).
    """

    def __init__(self, spark: SparkSession, ckpt_dir: str):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        os.makedirs(ckpt_dir, exist_ok=True)

    def _step_dir(self, step: int) -> str:
        return os.path.join(self.ckpt_dir, f"step_{step}")

    def _read_steps(self) -> list[int]:
        m = read_manifest(self.ckpt_dir)
        return sorted(m.get("steps", []))

    def save(self, df: DataFrame, step: int) -> None:
        """Write ``step_{N}`` parquet, then commit it to the manifest."""
        df.write.mode("overwrite").parquet(self._step_dir(step))
        m = read_manifest(self.ckpt_dir)
        m["steps"] = sorted(set(m.get("steps", [])) | {step})
        _write_manifest(self.ckpt_dir, m)

    def steps(self) -> list[int]:
        """Committed step ids (ascending)."""
        return self._read_steps()

    def latest_step(self) -> int | None:
        steps = self._read_steps()
        return steps[-1] if steps else None

    def load(self, step: int) -> DataFrame:
        if step not in self._read_steps():
            raise ValueError(f"step {step} is not committed in {self.ckpt_dir}")
        return self.spark.read.parquet(self._step_dir(step))

    def load_latest(self) -> DataFrame:
        """Resume point: the newest COMMITTED step (uncommitted orphan
        directories from a crash are invisible here)."""
        step = self.latest_step()
        if step is None:
            raise ValueError(f"no committed steps in {self.ckpt_dir}")
        return self.load(step)
