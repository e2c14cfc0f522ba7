"""Snapshot-writer seam: parquet today, Iceberg when the runtime exists.

The north_rule names Iceberg tables, but this sandbox has no
iceberg-spark runtime jar, so :mod:`ocr_spark.lineage` implements the
snapshot/commit protocol on plain parquet.  This module factors the
storage half of that protocol behind a small writer interface so a
deployment WITH a real catalog swaps one constructor argument:

- :class:`ParquetSnapshotWriter` — the current behavior, byte-identical
  to what ``CheckpointedExtraction`` wrote before the seam existed
  (asserted by tests/test_lineage.py::test_parquet_writer_seam_identical).
- :class:`IcebergSnapshotWriter` — ``df.writeTo(tbl).overwritePartitions()``
  per bucket commit (dynamic partition overwrite = the retry-idempotent
  analog of the parquet path's per-bucket-directory overwrite) and
  ``writeTo(tbl).append()`` for lineage rows.  Import-guarded: the
  constructor raises immediately when the Iceberg SparkCatalog class is
  not on the JVM classpath, rather than failing mid-commit.

The commit/manifest half (which bucket ids are committed, atomic
rename, resume) stays in ``CheckpointedExtraction`` — it is identical
for both writers; Iceberg's own snapshot log supplements but does not
replace the bucket manifest, because resume needs *bucket* granularity
and the manifest read must work without a catalog connection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.lineage import LINEAGE_SCHEMA
from ocr_spark.pipeline import EXTRACT_SCHEMA


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark runtime jar is loadable by SPARK.

    The probe must resolve against Spark's own classloader
    (``Utils.classForName`` → context-or-Spark loader): jars added the
    normal way (``--packages`` / ``--jars`` / ``spark.jars.packages``)
    land in Spark's MutableURLClassLoader, which a bare
    ``java.lang.Class.forName`` from the py4j thread cannot see — that
    spelling returned a false negative in exactly the deployments this
    seam exists for.  The plain ``Class.forName`` stays as a fallback
    for bootclasspath installs."""
    cls = "org.apache.iceberg.spark.SparkCatalog"
    jvm = spark._jvm  # noqa: SLF001 — JVM probe
    try:
        jvm.org.apache.spark.util.Utils.classForName(cls, False, False)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


class SnapshotWriter:
    """Storage interface for one bucket commit (data + lineage row).

    Implementations must make ``write_bucket_data`` idempotent under
    retry (a killed in-flight write followed by a re-commit of the same
    bucket must not duplicate rows) — that property, not atomicity of
    the write itself, is what the manifest protocol relies on.

    ``write_bucket_data`` must also execute ``df`` exactly once: the
    bucket's lineage counters are observed on that execution
    (:func:`ocr_spark.lineage.observe_lineage`), and a writer that never
    runs ``df`` leaves ``Observation.get`` blocked.
    """

    def write_bucket_data(self, df: DataFrame, bucket: int) -> None:
        raise NotImplementedError

    def write_lineage_row(self, lineage_df: DataFrame, bucket: int) -> None:
        raise NotImplementedError

    def read_output(self, committed: list[int]) -> DataFrame:
        raise NotImplementedError

    def read_lineage(self) -> DataFrame:
        raise NotImplementedError


class ParquetSnapshotWriter(SnapshotWriter):
    """Per-bucket parquet directories under ``output_dir`` (the default).

    Layout and bytes are exactly the pre-seam ``CheckpointedExtraction``
    behavior: ``data/bucket=<b>/`` overwritten per commit, one-file
    lineage rows under ``lineage/bucket=<b>/``.
    """

    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.output_dir = output_dir

    def write_bucket_data(self, df: DataFrame, bucket: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.output_dir, "data", f"bucket={bucket}")
        )

    def write_lineage_row(self, lineage_df: DataFrame, bucket: int) -> None:
        # per-bucket overwrite: a retry replaces a dangling row instead
        # of appending a duplicate (see CheckpointedExtraction._commit_bucket)
        lineage_df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.output_dir, "lineage", f"bucket={bucket}")
        )

    def read_output(self, committed: list[int]) -> DataFrame:
        if not committed:
            raise ValueError("no committed buckets")
        dirs = [
            os.path.join(self.output_dir, "data", f"bucket={b}")
            for b in committed
        ]
        return self.spark.read.schema(EXTRACT_SCHEMA).parquet(*dirs)

    def read_lineage(self) -> DataFrame:
        # the declared schema, not inference: no footer job, and a run
        # resumed across a lineage-schema widening (round 4 added
        # n_rerouted) reads the older files' missing column as null
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.output_dir, "lineage")
        )


class IcebergSnapshotWriter(SnapshotWriter):
    """Bucket commits as Iceberg snapshots (requires the runtime jar).

    ``data_table`` should be partitioned by the ``bucket`` column (or
    ``bucket(B, conv_id)`` hidden partitioning); each commit is one
    dynamic-partition-overwrite snapshot, so a retried bucket replaces
    its own partition and nothing else.  ``lineage_table`` receives one
    appended row per commit.  Tables are created on first write via
    ``createOrReplace``-free ``create`` semantics left to the caller's
    catalog configuration (we do not DDL here).
    """

    def __init__(self, spark: SparkSession, data_table: str, lineage_table: str):
        if not iceberg_runtime_available(spark):
            raise RuntimeError(
                "IcebergSnapshotWriter requires the iceberg-spark runtime "
                "jar on the JVM classpath (org.apache.iceberg.spark."
                "SparkCatalog not found); use ParquetSnapshotWriter in "
                "environments without an Iceberg catalog"
            )
        self.spark = spark
        self.data_table = data_table
        self.lineage_table = lineage_table

    def write_bucket_data(self, df: DataFrame, bucket: int) -> None:
        (
            df.withColumn("bucket", F.lit(bucket))
            .writeTo(self.data_table)
            .overwritePartitions()
        )

    def write_lineage_row(self, lineage_df: DataFrame, bucket: int) -> None:
        lineage_df.withColumn("bucket", F.lit(bucket)).writeTo(
            self.lineage_table
        ).append()

    def read_output(self, committed: list[int]) -> DataFrame:
        if not committed:
            raise ValueError("no committed buckets")
        return self.spark.table(self.data_table).filter(
            F.col("bucket").isin(committed)
        )

    def read_lineage(self) -> DataFrame:
        return self.spark.table(self.lineage_table)
