"""Checkpoint/resume + lineage tests (SURVEY.md §5 resume tests).

Kill after partition-batch k, restart, assert no bucket is
reprocessed (lineage/manifest unchanged for committed buckets) and the
final table equals the single-run table.
"""

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.lineage import CheckpointedExtraction, read_manifest
from ocr_spark.maintenance import bucket_expr
from ocr_spark.pipeline import MAX_RENDER_TURNS, extract_conversations
from ocr_spark.synth import transcripts

N_CONVS = 200
N_BUCKETS = 8


@pytest.fixture()
def ckpt(spark, tmp_path):
    c = CheckpointedExtraction(spark, str(tmp_path / "run"), n_buckets=N_BUCKETS)
    c.stage_by_bucket(transcripts(spark, N_CONVS, seed=42))
    return c


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["clean_text"], r["block_class"],
         r["answer"], r["status"], r["n_tokens"])
        for r in df.collect()
    )


def test_kill_restart_no_reprocessing(spark, ckpt):
    with pytest.raises(RuntimeError, match="injected failure"):
        ckpt.run(fail_after=3)

    m1 = read_manifest(ckpt.output_dir)
    assert len(m1["committed"]) == 3
    lineage1 = {
        r["bucket"]: r["committed_at"] for r in ckpt.read_lineage().collect()
    }
    assert set(lineage1) == set(m1["committed"])

    # restart: fresh object, same output dir
    resumed = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    assert sorted(resumed.pending_buckets()) == [
        b for b in range(N_BUCKETS) if b not in m1["committed"]
    ]
    stats = resumed.run()
    assert len(stats) == N_BUCKETS - 3

    m2 = read_manifest(ckpt.output_dir)
    assert m2["committed"] == list(range(N_BUCKETS))
    rows2 = resumed.read_lineage().collect()
    lineage2 = {r["bucket"]: r["committed_at"] for r in rows2}
    # committed buckets were not reprocessed: their lineage rows survive
    # byte-identically (same commit timestamp), and exactly one row per
    # bucket (the dict alone would hide a second row for one bucket)
    assert len(rows2) == len(lineage2) == N_BUCKETS
    for b, ts in lineage1.items():
        assert lineage2[b] == ts


def test_crash_before_manifest_hides_dangling_lineage_row(spark, ckpt, monkeypatch):
    """A crash after a bucket's lineage row is written but before the
    manifest commits it leaves a dangling row on disk: read_lineage
    holds exactly the committed buckets, as read_output does."""
    import ocr_spark.lineage as lineage

    with pytest.raises(RuntimeError, match="injected failure"):
        ckpt.run(fail_after=3)

    def crash(path, manifest):
        raise OSError("injected crash in write_manifest")

    monkeypatch.setattr(lineage, "write_manifest", crash)
    resumed = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    with pytest.raises(OSError, match="injected crash"):
        resumed.run()
    committed = read_manifest(ckpt.output_dir)["committed"]
    assert len(committed) == 3
    assert sorted(r["bucket"] for r in resumed.read_lineage().collect()) == committed


def test_reads_run_no_job(spark, ckpt, count_jobs):
    """read_output and read_lineage build their frames with declared
    schemas: no inference or footer job at 8 buckets (above 32 paths
    Spark lists them in a job), and the lineage frame has the counter
    columns plus the bucket partition column."""
    ckpt.run()
    out, jobs = count_jobs("lineage-read-output", ckpt.read_output)
    assert jobs == 0
    lin, jobs = count_jobs("lineage-read-lineage", ckpt.read_lineage)
    assert jobs == 0
    assert out.count() > 0 and lin.count() == N_BUCKETS
    assert lin.columns == [
        "n_convs", "n_turns", "n_ok", "n_fallback", "n_rerouted",
        "wall_sec", "committed_at", "bucket",
    ]
    # a row written before n_rerouted existed reads it as null
    old = os.path.join(ckpt.output_dir, "lineage", "bucket=0")
    lin.filter("bucket = 0").drop("n_rerouted", "bucket").localCheckpoint() \
        .write.mode("overwrite").parquet(old)
    got = {r["bucket"]: r["n_rerouted"] for r in ckpt.read_lineage().collect()}
    assert got[0] is None and all(v is not None for b, v in got.items() if b)


def test_resumed_output_equals_single_run(spark, ckpt):
    with pytest.raises(RuntimeError):
        ckpt.run(fail_after=2)
    resumed = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    resumed.run()

    single = extract_conversations(transcripts(spark, N_CONVS, seed=42))
    assert _rows(resumed.read_output()) == _rows(single)


def test_lineage_counters_conserve_turns(spark, tmp_path):
    """Each bucket's counters equal its committed rows, with one
    conversation over the render cap: it is counted in ``n_rerouted``
    of its bucket only, and its turns are conserved."""
    n = MAX_RENDER_TURNS + 1
    i = F.col("id")
    giant = spark.range(n).select(
        F.lit("convgiant0").alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.when(i % 2 == 1, F.lit("user")).otherwise(F.lit("assistant")).alias("role"),
        F.concat((i % 90 * 100).cast("string"), F.lit(" km")).alias("text"),
    )
    t = transcripts(spark, N_CONVS, seed=42).select(*giant.columns).unionByName(giant)
    ckpt = CheckpointedExtraction(spark, str(tmp_path / "run"), n_buckets=N_BUCKETS)
    ckpt.stage_by_bucket(t)
    ckpt.run()
    cols = ["n_convs", "n_turns", "n_ok", "n_fallback", "n_rerouted"]
    rows = ckpt.read_lineage().collect()
    got = {r["bucket"]: tuple(r[c] for c in cols) for r in rows}
    per_conv = (
        ckpt.read_output()
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
            F.sum((F.col("status") == "fallback").cast("long")).alias("fb"),
        )
        .withColumn("bucket", bucket_expr("conv_id", N_BUCKETS))
    )
    want = {
        r["bucket"]: tuple(r[c] for c in cols)
        for r in per_conv.groupBy("bucket").agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("n").alias("n_turns"),
            F.sum("ok").alias("n_ok"),
            F.sum("fb").alias("n_fallback"),
            F.sum((F.col("n") > MAX_RENDER_TURNS).cast("long")).alias("n_rerouted"),
        ).collect()
    }
    assert got == want
    assert len(rows) == N_BUCKETS  # one lineage row per bucket, no duplicate
    assert sum(v[1] for v in got.values()) == t.count()
    assert all(ok + fb == turns for _, turns, ok, fb, _ in got.values())
    assert sum(v[0] for v in got.values()) == N_CONVS + 1
    giant_bucket = per_conv.filter(F.col("conv_id") == "convgiant0").first()["bucket"]
    assert {b: v[4] for b, v in got.items()} == {
        b: int(b == giant_bucket) for b in range(N_BUCKETS)
    }
    assert all(r["wall_sec"] >= 0 for r in rows)


def test_commit_bucket_is_two_jobs_without_persist(spark, ckpt, count_jobs, tmp_path):
    """A bucket commit on a fresh object runs the data write and the
    lineage row write and nothing else: the bucket is read with the
    staged manifest's schema (no inference job), by its own directory
    (no listing job, also at 64 buckets), and its counters are observed
    on the data write, with no cached output and no counter job."""
    persisted_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    fresh = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    st, commit_jobs = count_jobs("lineage-commit", lambda: fresh._commit_bucket(0))
    assert commit_jobs == 2
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= persisted_before
    assert st.n_turns == fresh.read_output().count() > 0

    wide = CheckpointedExtraction(spark, str(tmp_path / "wide"), n_buckets=64)
    wide.stage_by_bucket(transcripts(spark, N_CONVS, seed=42))
    fresh = CheckpointedExtraction(spark, wide.output_dir, n_buckets=64)
    st, commit_jobs = count_jobs("lineage-commit-64", lambda: fresh._commit_bucket(0))
    assert commit_jobs == 2
    assert st.n_turns == fresh.read_output().count() > 0


def test_run_job_count(spark, ckpt, count_jobs):
    """An 8-bucket run is its commits' jobs and nothing else: 2 per
    bucket, no per-run read of the staged table."""
    fresh = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    stats, jobs = count_jobs("lineage-run", fresh.run)
    assert len(stats) == N_BUCKETS
    assert jobs == 2 * N_BUCKETS


def test_restart_with_other_bucket_count_raises(spark, ckpt):
    """Input staged in 8 buckets and then run with 2 would commit only
    staged buckets 0 and 1 and report success: the run refuses it
    before committing anything."""
    other = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets=8"):
        other.run()
    assert read_manifest(ckpt.output_dir)["committed"] == []


def test_idempotent_rerun_is_noop(spark, ckpt):
    ckpt.run()
    lineage_before = sorted(
        (r["bucket"], r["committed_at"]) for r in ckpt.read_lineage().collect()
    )
    again = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=N_BUCKETS)
    assert again.pending_buckets() == []
    assert again.run() == []
    lineage_after = sorted(
        (r["bucket"], r["committed_at"]) for r in again.read_lineage().collect()
    )
    assert lineage_before == lineage_after


def test_bucket_count_mismatch_rejected(spark, ckpt):
    ckpt.run()
    other = CheckpointedExtraction(spark, ckpt.output_dir, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        other.pending_buckets()


def test_parquet_writer_seam_identical(spark, ckpt):
    """The SnapshotWriter seam (ocr_spark/iceberg.py) must not change the
    on-disk layout: data under data/bucket=<b>/ per committed bucket,
    exactly one lineage parquet part-file under lineage/bucket=<b>/ —
    the pre-seam CheckpointedExtraction contract, byte-layout pinned."""
    from ocr_spark.iceberg import ParquetSnapshotWriter

    assert isinstance(ckpt.writer, ParquetSnapshotWriter)  # the default
    ckpt.run()
    for b in range(N_BUCKETS):
        ddir = os.path.join(ckpt.output_dir, "data", f"bucket={b}")
        ldir = os.path.join(ckpt.output_dir, "lineage", f"bucket={b}")
        assert os.path.exists(os.path.join(ddir, "_SUCCESS"))
        parts = [f for f in os.listdir(ldir) if f.startswith("part-")]
        assert len(parts) == 1, f"lineage bucket={b} must be one part-file"
    # consumers route through the writer and see the same manifest-filtered view
    m = read_manifest(ckpt.output_dir)
    direct = spark.read.parquet(
        *[os.path.join(ckpt.output_dir, "data", f"bucket={b}") for b in m["committed"]]
    )
    assert _rows(ckpt.read_output()) == _rows(direct)


def test_iceberg_writer_import_guarded(spark):
    """IcebergSnapshotWriter must fail fast (constructor, not mid-commit)
    when the iceberg-spark runtime jar is absent — as in this sandbox."""
    from ocr_spark.iceberg import IcebergSnapshotWriter, iceberg_runtime_available

    assert not iceberg_runtime_available(spark)  # sandbox has no jar
    with pytest.raises(RuntimeError, match="iceberg-spark runtime"):
        IcebergSnapshotWriter(spark, "cat.db.data", "cat.db.lineage")


def test_iceberg_writer_call_contract(spark, monkeypatch):  # noqa: ARG001 — spark only provides the active context Column exprs need
    """The Iceberg runtime jar does not exist in this sandbox, so the
    ~45 lines of IcebergSnapshotWriter can never run against a live
    catalog here (README/VERDICT residual).  What CAN be pinned without
    the jar is the call contract those lines make — the part a typo
    would silently break for a user with a real catalog: data commits
    stamp the bucket column and go through
    writeTo(data_table).overwritePartitions() (dynamic-partition
    overwrite = retry-idempotent per bucket), lineage rows stamp the
    bucket and go through writeTo(lineage_table).append(), and
    read_output filters the catalog table to the committed buckets."""
    from ocr_spark import iceberg as ice

    calls = []

    class FakeWriteTo:
        def __init__(self, table):
            self.table = table

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.table))

        def append(self):
            calls.append(("append", self.table))

    class FakeDF:
        def __init__(self, cols=()):
            self.cols = dict(cols)

        def withColumn(self, name, col):
            d = FakeDF(self.cols)
            d.cols[name] = col
            calls.append(("withColumn", name, str(col)))
            return d

        def writeTo(self, table):
            calls.append(("writeTo", table))
            return FakeWriteTo(table)

        def filter(self, cond):
            calls.append(("filter", str(cond)))
            return self

    class FakeSpark:
        def table(self, name):
            calls.append(("table", name))
            return FakeDF()

    monkeypatch.setattr(ice, "iceberg_runtime_available", lambda s: True)
    w = ice.IcebergSnapshotWriter(FakeSpark(), "cat.db.data", "cat.db.lineage")

    w.write_bucket_data(FakeDF(), bucket=7)
    assert calls[-2:] == [("writeTo", "cat.db.data"),
                          ("overwritePartitions", "cat.db.data")]
    assert ("withColumn", "bucket", str(F.lit(7))) in calls

    calls.clear()
    w.write_lineage_row(FakeDF(), bucket=3)
    assert calls[-2:] == [("writeTo", "cat.db.lineage"),
                          ("append", "cat.db.lineage")]
    assert ("withColumn", "bucket", str(F.lit(3))) in calls

    calls.clear()
    w.read_output([1, 4])
    assert calls[0] == ("table", "cat.db.data")
    assert calls[1][0] == "filter" and "in(bucket, 1, 4)" in calls[1][1]

    calls.clear()
    w.read_lineage()
    assert calls == [("table", "cat.db.lineage")]

    # the empty-committed guard mirrors the parquet writer's
    with pytest.raises(ValueError):
        w.read_output([])

    # and WITHOUT the patch the constructor refuses (no jar here) —
    # probed against the REAL session, the exact deployment error path
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="iceberg-spark runtime"):
        ice.IcebergSnapshotWriter(spark, "a", "b")
