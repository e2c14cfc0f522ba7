"""Small-file compaction: row-multiset preservation, file-count
reduction, no-op guard, and crash-window recovery in every state; the
bucketed copy-on-write keyed MERGE."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark.maintenance import (
    compact_parquet_dir,
    recover_compaction,
)


def _write_fragmented(spark, path: str, n_rows: int = 2000, n_files: int = 40):
    df = spark.range(n_rows).select(
        F.col("id"),
        F.format_string("conv%08d", F.col("id") % 97).alias("conv_id"),
        F.sha1(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def _rows(spark, path):
    return sorted(
        (r["id"], r["conv_id"], r["payload"])
        for r in spark.read.parquet(path).collect()
    )


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path, count_jobs):
    """The rewrite observes its own row count: schema inference, the
    repartition's map stage and the write, no separate count job."""
    path = str(tmp_path / "frag")
    _write_fragmented(spark, path)
    want = _rows(spark, path)

    stats, jobs = count_jobs(
        "compact", lambda: compact_parquet_dir(spark, path, target_file_bytes=10**9))
    assert jobs <= 3
    assert stats["skipped"] is False and stats["rows"] == 2000
    assert stats["files_before"] == 40 and stats["files_after"] == 1
    assert _rows(spark, path) == want
    # no leftover work dirs
    assert not os.path.exists(path + ".__compact_tmp")
    assert not os.path.exists(path + ".__compact_bak")


def test_compaction_is_noop_below_threshold(spark, tmp_path):
    path = str(tmp_path / "small")
    spark.range(10).coalesce(1).write.parquet(path)
    stats = compact_parquet_dir(spark, path)
    assert stats["skipped"] is True
    assert stats["files_after"] == stats["files_before"]


def test_one_big_file_plus_fragments_still_compacts(spark, tmp_path):
    """The skip decision is fragmentation-based: a directory holding one
    file already >= target plus many tiny fragments MUST compact (the
    old count-vs-ceil(bytes/target) heuristic skipped exactly this
    layout, leaving the small files the pass exists to remove)."""
    path = str(tmp_path / "mixed")
    # one "large" member...
    big = spark.range(20000).select(
        F.col("id"), F.sha1(F.col("id").cast("string")).alias("payload"),
    )
    big.coalesce(1).write.mode("overwrite").parquet(path)
    big_file = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    big_bytes = os.path.getsize(os.path.join(path, big_file))
    # ...plus many tiny fragments appended alongside it
    frags = spark.range(20000, 20400).select(
        F.col("id"), F.sha1(F.col("id").cast("string")).alias("payload"),
    )
    frags.repartition(12).write.mode("append").parquet(path)
    want = sorted((r["id"], r["payload"])
                  for r in spark.read.parquet(path).collect())

    # target sized so the big file alone satisfies it but every
    # fragment is far below it
    stats = compact_parquet_dir(spark, path, target_file_bytes=big_bytes)
    assert stats["skipped"] is False
    assert stats["files_after"] < stats["files_before"]
    got = sorted((r["id"], r["payload"])
                 for r in spark.read.parquet(path).collect())
    assert got == want


def test_all_files_at_target_skip(spark, tmp_path):
    """No sub-target fragments -> nothing to do, even when the file
    count exceeds ceil(bytes/target)."""
    path = str(tmp_path / "chunky")
    _write_fragmented(spark, path, n_rows=400, n_files=4)
    largest = max(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    smallest = min(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert largest < 2 * smallest  # near-uniform split
    stats = compact_parquet_dir(spark, path, target_file_bytes=smallest)
    assert stats["skipped"] is True


def test_target_size_splits_output(spark, tmp_path):
    """A target below total bytes must produce multiple output files
    (ceil(total/target)), not one giant file."""
    path = str(tmp_path / "split")
    _write_fragmented(spark, path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    stats = compact_parquet_dir(spark, path, target_file_bytes=total // 4 + 1)
    assert stats["skipped"] is False
    assert 2 <= stats["files_after"] <= 6


def test_recovery_every_crash_state(spark, tmp_path):
    path = str(tmp_path / "crashy")
    _write_fragmented(spark, path, n_rows=200, n_files=8)
    want = _rows(spark, path)
    tmp, bak = path + ".__compact_tmp", path + ".__compact_bak"

    # state 1: crash BEFORE the first rename (tmp written, dir intact)
    shutil.copytree(path, tmp)
    assert recover_compaction(path) == "clean"
    assert not os.path.exists(tmp) and _rows(spark, path) == want

    # state 2: crash BETWEEN the renames (dir moved to bak, tmp ready)
    shutil.copytree(path, tmp)
    os.rename(path, bak)
    assert recover_compaction(path) == "rolled_back"
    assert _rows(spark, path) == want
    assert not os.path.exists(tmp) and not os.path.exists(bak)

    # state 3: crash AFTER the second rename (compacted live, bak left)
    shutil.copytree(path, bak)
    assert recover_compaction(path) == "finalized"
    assert _rows(spark, path) == want and not os.path.exists(bak)

    # recovery is idempotent
    assert recover_compaction(path) == "clean"


def test_direct_compact_self_recovers_stale_bak(spark, tmp_path):
    """A crash in the post-swap window leaves .__compact_bak behind; a
    DIRECT compact_parquet_dir call (no explicit recover) must resolve
    it and proceed instead of failing ENOTEMPTY on the rename."""
    path = str(tmp_path / "stale")
    _write_fragmented(spark, path, n_rows=300, n_files=6)
    want = _rows(spark, path)
    shutil.copytree(path, path + ".__compact_bak")  # 'finalized' crash state

    stats = compact_parquet_dir(spark, path, target_file_bytes=10**9)
    assert stats["skipped"] is False and stats["files_after"] == 1
    assert _rows(spark, path) == want
    assert not os.path.exists(path + ".__compact_bak")


def test_merge_upsert_target_never_shuffles(spark, tmp_path):
    """The anti-join must broadcast the change keys: no hash exchange
    of the target side in the plan merge_upsert_cow actually constructs
    (asserted on merge_plan, the exact DataFrame the merge writes)."""
    from ocr_spark.maintenance import merge_plan

    path = str(tmp_path / "tbl2")
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(50)], "doc_id long, text string"
    ).write.parquet(path)
    changes = spark.createDataFrame(
        [(1, "x", False)], "doc_id long, text string, _deleted boolean"
    )
    merged = merge_plan(spark.read.parquet(path), changes, "doc_id")
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merged.explain()
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "Exchange hashpartitioning" not in p


# ---------------------------------------------------------------------------
# bucketed copy-on-write MERGE
# ---------------------------------------------------------------------------

def _file_fingerprint(d):
    """(relpath, size, sha1-ish head bytes) for every data file under d."""
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                h = hashlib.sha1(fh.read()).hexdigest()
            out[os.path.relpath(p, d)] = (os.path.getsize(p), h)
    return out


def _cow_fixture(spark, tmp_path, n=200, n_buckets=8):
    from ocr_spark.maintenance import write_bucketed_snapshot

    path = str(tmp_path / "cow_tbl")
    df = spark.createDataFrame(
        [(i, f"row{i}") for i in range(n)], "doc_id long, text string"
    )
    write_bucketed_snapshot(spark, df, path, key="doc_id",
                            n_buckets=n_buckets)
    return path


def test_cow_merge_rewrites_only_changed_buckets(spark, tmp_path):
    """The point of the layout: unchanged bucket directories keep the
    SAME files byte-for-byte; only buckets containing changed keys are
    rewritten; merged semantics equal the flat merge_plan."""
    from ocr_spark.maintenance import (
        BUCKET_COL,
        merge_upsert_cow,
        read_bucketed_snapshot,
    )

    path = _cow_fixture(spark, tmp_path)
    before = _file_fingerprint(path)

    changes = spark.createDataFrame(
        [(3, "row3-v2", False), (9999, "row9999", False), (7, None, True)],
        "doc_id long, text string, _deleted boolean",
    )
    stats = merge_upsert_cow(spark, path, changes)
    assert stats["n_upserts"] == 2 and stats["n_deletes"] == 1
    touched = {f"{BUCKET_COL}={b}" for b in stats["buckets_rewritten"]}
    assert 1 <= len(touched) <= 3          # ≤ one bucket per changed key

    after = _file_fingerprint(path)
    for rel, fp in before.items():
        bucket_dir = rel.split(os.sep)[0]
        if bucket_dir not in touched:
            assert after.get(rel) == fp, f"untouched bucket rewritten: {rel}"
    # semantics == flat merge
    got = {r["doc_id"]: r["text"]
           for r in read_bucketed_snapshot(spark, path).collect()}
    want = {i: f"row{i}" for i in range(200) if i != 7}
    want[3] = "row3-v2"
    want[9999] = "row9999"
    assert got == want


def test_merge_upsert_null_delete_flag_is_upsert(spark, tmp_path):
    """A change row with a NULL delete flag is an UPSERT, never a
    silent delete: its key must survive with the new value, and
    n_deletes must not count it."""
    from ocr_spark.maintenance import merge_upsert_cow, read_bucketed_snapshot

    path = _cow_fixture(spark, tmp_path, n=4, n_buckets=2)
    changes = spark.createDataFrame(
        [(2, "row2-v2", None), (3, None, True)],
        "doc_id long, text string, _deleted boolean",
    )
    stats = merge_upsert_cow(spark, path, changes)
    got = {r["doc_id"]: r["text"]
           for r in read_bucketed_snapshot(spark, path).collect()}
    assert got == {0: "row0", 1: "row1", 2: "row2-v2"}
    assert stats["n_upserts"] == 1 and stats["n_deletes"] == 1


def test_merge_into_flat_table_raises(spark, tmp_path):
    """A flat parquet table (the layout run_merge_stream wrote before it
    merged bucket by bucket) has no bucket manifest: both the merge and
    the stream sink refuse it with a ValueError naming the path, before
    the stream starts.  The sink also refuses a snapshot bucketed on
    another key than its own."""
    from ocr_spark.maintenance import merge_upsert_cow
    from ocr_spark.streaming import run_merge_stream

    path = str(tmp_path / "flat")
    spark.createDataFrame([(1, "row1")], "doc_id long, text string").write.parquet(path)
    changes = spark.createDataFrame(
        [(1, "row1-v2", False)], "doc_id long, text string, _deleted boolean")
    with pytest.raises(ValueError, match="write_bucketed_snapshot") as err:
        merge_upsert_cow(spark, path, changes)
    assert path in str(err.value)
    inp = tmp_path / "in"
    inp.mkdir()
    with pytest.raises(ValueError, match="write_bucketed_snapshot"):
        run_merge_stream(spark, str(inp), path)
    # a snapshot bucketed on another key would merge on the wrong key
    other = _cow_fixture(spark, tmp_path, n=4, n_buckets=2)
    with pytest.raises(ValueError, match="doc_id"):
        run_merge_stream(spark, str(inp), other, key="conv_id")
    assert not os.path.exists(path + "__merge_ckpt")
    assert not os.path.exists(other + "__merge_ckpt")


def test_snapshot_without_schema_raises(spark, tmp_path):
    """A manifest written before manifests recorded the schema has no
    inference fallback: reading or merging raises a ValueError that
    names write_bucketed_snapshot."""
    from ocr_spark.maintenance import (
        BUCKET_MANIFEST,
        merge_upsert_cow,
        read_bucketed_snapshot,
        write_manifest,
    )

    path = _cow_fixture(spark, tmp_path, n=4, n_buckets=2)
    write_manifest(os.path.join(path, BUCKET_MANIFEST), {"key": "doc_id", "n_buckets": 2})
    with pytest.raises(ValueError, match="write_bucketed_snapshot"):
        read_bucketed_snapshot(spark, path)
    changes = spark.createDataFrame(
        [(1, "row1-v2", False)], "doc_id long, text string, _deleted boolean")
    with pytest.raises(ValueError, match="write_bucketed_snapshot"):
        merge_upsert_cow(spark, path, changes)


def test_cow_merge_empty_change_batch_touches_nothing(spark, tmp_path):
    """An empty batch rewrites no bucket, and neither does a tombstone
    into an empty snapshot: its bucket has no directory before or after."""
    from ocr_spark.maintenance import (
        merge_upsert_cow,
        read_bucketed_snapshot,
        write_bucketed_snapshot,
    )

    path = _cow_fixture(spark, tmp_path)
    before = _file_fingerprint(path)
    changes = spark.createDataFrame(
        [], "doc_id long, text string, _deleted boolean")
    stats = merge_upsert_cow(spark, path, changes)
    assert stats["buckets_rewritten"] == []
    assert _file_fingerprint(path) == before

    empty = str(tmp_path / "empty")
    write_bucketed_snapshot(spark, changes.drop("_deleted"), empty,
                            key="doc_id", n_buckets=4)
    tombstone = spark.createDataFrame(
        [(1, None, True)], "doc_id long, text string, _deleted boolean")
    stats = merge_upsert_cow(spark, empty, tombstone)
    assert stats["buckets_rewritten"] == [] and stats["n_deletes"] == 1
    assert read_bucketed_snapshot(spark, empty).count() == 0


def test_cow_merge_bucket_emptied_by_deletes(spark, tmp_path):
    """Deleting every key of one bucket removes its directory; other
    buckets untouched."""
    from ocr_spark.maintenance import (
        BUCKET_COL,
        bucket_expr,
        merge_upsert_cow,
        read_bucketed_snapshot,
    )

    path = _cow_fixture(spark, tmp_path, n=50, n_buckets=4)
    # find every key living in bucket 0 and tombstone all of them
    from pyspark.sql import functions as F

    ids = [
        r["doc_id"]
        for r in spark.createDataFrame(
            [(i,) for i in range(50)], "doc_id long"
        ).withColumn("b", bucket_expr("doc_id", 4))
        .filter(F.col("b") == 0).collect()
    ]
    assert ids
    changes = spark.createDataFrame(
        [(i, None, True) for i in ids],
        "doc_id long, text string, _deleted boolean",
    )
    stats = merge_upsert_cow(spark, path, changes)
    assert stats["buckets_rewritten"] == [0]
    assert not os.path.isdir(os.path.join(path, f"{BUCKET_COL}=0"))
    got = sorted(r["doc_id"]
                 for r in read_bucketed_snapshot(spark, path).collect())
    assert got == sorted(set(range(50)) - set(ids))


def test_cow_merge_crash_between_bucket_swaps_replay_converges(spark, tmp_path):
    """A crash after SOME bucket swaps leaves a partially-merged table;
    per-bucket swaps are atomic and the keyed MERGE is
    replay-idempotent, so re-running the SAME change batch converges to
    the flat-merge result."""
    from ocr_spark.maintenance import (
        BUCKET_COL,
        merge_upsert_cow,
        read_bucketed_snapshot,
    )

    path = _cow_fixture(spark, tmp_path)
    changes = spark.createDataFrame(
        [(3, "row3-v2", False), (11, "row11-v2", False), (7, None, True)],
        "doc_id long, text string, _deleted boolean",
    )
    # simulate "crash mid-swap in bucket K": run the merge fully, then
    # reconstruct the mid-swap state for one rewritten bucket by moving
    # its live dir to .__compact_bak with a stale tmp alongside
    stats = merge_upsert_cow(spark, path, changes)
    b0 = stats["buckets_rewritten"][0]
    live = os.path.join(path, f"{BUCKET_COL}={b0}")
    if os.path.isdir(live):
        os.rename(live, live + ".__compact_bak")  # between the renames

    stats2 = merge_upsert_cow(spark, path, changes)  # replay
    assert set(stats2["buckets_rewritten"]) == set(stats["buckets_rewritten"])
    got = {r["doc_id"]: r["text"]
           for r in read_bucketed_snapshot(spark, path).collect()}
    want = {i: f"row{i}" for i in range(200) if i != 7}
    want[3] = "row3-v2"
    want[11] = "row11-v2"
    assert got == want
    assert not os.path.isdir(live + ".__compact_bak")
    assert not os.path.isdir(path + ".__merge_tmp")
