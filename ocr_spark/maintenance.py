"""Output-layout maintenance: small-file compaction + keyed MERGE.

A resumable extraction run (lineage.CheckpointedExtraction) and the
streaming sinks commit output per bucket / per micro-batch, which is
exactly-once-correct but accumulates many small parquet files — the
classic small-file problem that degrades every downstream scan at
100 TB (driver-side file listing, one task per tiny split, row-group
overhead).  Real deployments run a table-maintenance pass (Iceberg's
``rewrite_data_files``); this module is the parquet-layout analog,
kept deliberately simple and crash-safe:

1. size the directory (one driver-side walk: data bytes, file count
   and sub-target fragment count),
2. rewrite into ``ceil(total_bytes / target_file_bytes)`` files via a
   ``repartition`` round-robin (NOT ``coalesce``: coalesce collapses
   upstream parallelism so a 10k-file read would be re-scanned by a
   handful of tasks; the narrow win is not worth the lost read
   parallelism, and compaction is a rewrite anyway),
3. commit atomically: write to ``<dir>.__compact_tmp``, swap via two
   renames with the original kept at ``<dir>.__compact_bak`` until the
   swap succeeds.  The row count is observed on the rewrite itself.

Compaction is layout-only by contract: row multiset in == row multiset
out (pinned by tests/test_maintenance.py, along with crash-window
recovery via :func:`recover_compaction`).

The keyed MERGE (:func:`merge_upsert_cow`) is the ``MERGE INTO``
analog on a hash-bucketed snapshot (:func:`write_bucketed_snapshot`:
``_bucket=K/`` directories plus a ``_buckets.json`` manifest): it
rewrites only the buckets a change batch touches and swaps each one in
with the same two-rename protocol, so :func:`recover_compaction`
resolves a crash in the swap window for both operations.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

#: default compacted file size — parquet works best at 128M-1G; the
#: default errs small so tests exercise multi-file output.
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _layout(path: str, threshold_bytes: int) -> tuple[int, int, int]:
    """One walk of ``path``: (data bytes, parquet files, parquet files
    strictly smaller than ``threshold_bytes``).  The last is the
    fragmentation signal compaction exists to remove."""
    n_bytes = n_files = n_small = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            size = os.path.getsize(os.path.join(root, f))
            if not f.startswith(("_", ".")):
                n_bytes += size
            if f.endswith(".parquet"):
                n_files += 1
                n_small += size < threshold_bytes
    return n_bytes, n_files, n_small


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Returns a stats dict (files/bytes before and after, rows, skipped
    flag) suitable for a lineage/metrics row.  No-op (skipped=True)
    when the directory already has fewer than ``min_files_to_compact``
    data files or fewer files than the target implies.

    Partition-column layouts (``key=value`` subdirectories, e.g. the
    streaming sink's ``batch_id=N``) are rewritten FLAT: partition
    columns read back as regular columns and are preserved as data,
    but the directory partitioning — whose per-partition file split is
    the very fragmentation being removed — is not recreated.  Callers
    that still want partition pruning afterwards should compact each
    partition directory separately.
    """
    # self-recover first: a crash in a previous compaction's swap window
    # otherwise leaves a .__compact_bak that makes os.rename(path, bak)
    # fail with ENOTEMPTY on every subsequent attempt
    recover_compaction(path)

    before_bytes, before_files, small_files = _layout(path, target_file_bytes)
    n_out = max(1, -(-before_bytes // max(target_file_bytes, 1)))
    # Skip on a FRAGMENTATION signal, not a size one: comparing file
    # count to ceil(bytes/target) mis-skips e.g. 1x5GB + 39 tiny files
    # at a 128MB target (n_out=41 > 40), exactly the small-file mess
    # this pass exists to remove.  Compact whenever enough sub-target
    # fragments exist; a directory of all >= target files is compact.
    if small_files < min_files_to_compact:
        return {
            "path": path, "skipped": True,
            "files_before": before_files, "files_after": before_files,
            "bytes_before": before_bytes, "bytes_after": before_bytes,
        }

    tmp = path.rstrip("/") + ".__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)

    # the row count is observed on the rewrite itself: no count job
    obs = Observation()
    spark.read.parquet(path).repartition(int(n_out)) \
        .observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite").parquet(tmp)

    _swap_in(tmp, path)

    after_bytes, after_files, _ = _layout(path, target_file_bytes)
    return {
        "path": path, "skipped": False, "rows": obs.get["rows"],
        "files_before": before_files, "files_after": after_files,
        "bytes_before": before_bytes, "bytes_after": after_bytes,
    }


def _swap_in(new: str, live: str) -> None:
    """Replace directory ``live`` with ``new``: rename ``live`` to
    ``<live>.__compact_bak``, rename ``new`` to ``live``, delete the bak.

    Both renames are metadata ops on one filesystem; a crash between
    them leaves the bak and no live dir, which :func:`recover_compaction`
    rolls back.  A missing ``new`` (a bucket emptied by deletes) removes
    ``live``; a missing ``live`` (a new bucket) just renames ``new`` in.
    """
    bak = live.rstrip("/") + ".__compact_bak"
    if os.path.isdir(live):
        os.rename(live, bak)
    if os.path.isdir(new):
        os.rename(new, live)
    shutil.rmtree(bak, ignore_errors=True)


def _is_delete(delete_col: str):
    """The tombstone flag, NULL read as false (an upsert)."""
    return F.coalesce(F.col(delete_col), F.lit(False))


def recover_compaction(path: str) -> str:
    """Resolve a crash mid-swap.  Idempotent; returns the action taken.

    States (tmp = ``.__compact_tmp``, bak = ``.__compact_bak``):

    - dir present, no bak: nothing to do (``"clean"``; a leftover tmp
      from a crash before the first rename is deleted).
    - bak present AND dir present: crash after the second rename but
      before bak cleanup — the compacted dir is live; drop bak
      (``"finalized"``).
    - bak present, dir absent: crash between the renames — restore the
      original by renaming bak back (``"rolled_back"``; a leftover tmp
      is deleted, the compaction simply re-runs later).
    """
    tmp = path.rstrip("/") + ".__compact_tmp"
    bak = path.rstrip("/") + ".__compact_bak"
    if os.path.exists(bak):
        if os.path.exists(path):
            shutil.rmtree(bak)
            return "finalized"
        if os.path.exists(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        os.rename(bak, path)
        return "rolled_back"
    shutil.rmtree(tmp, ignore_errors=True)
    return "clean"


def merge_plan(target, changes, key: str, delete_col: str):
    """Build the merged rows :func:`merge_upsert_cow` writes.

    Exposed separately so the no-target-shuffle plan shape can be
    asserted on the exact DataFrame the merge constructs
    (tests/test_maintenance.py explains this, not a hand copy).  The
    target is NEVER shuffled: matched rows leave via one ``left_anti``
    join against the broadcast change-key set, and the rewrite is a
    scan + union + write.  A NULL ``delete_col`` is treated as false
    (an upsert): ``~NULL`` is NULL, and a bare ``filter(~col)`` would
    silently drop the row from the upsert side while its key still
    anti-joins the target row away — data loss disguised as a delete.
    """
    data_cols = target.columns
    kept = target.join(F.broadcast(changes.select(key)), on=key, how="left_anti")
    upserts = changes.filter(~_is_delete(delete_col)).select(*data_cols)
    return kept.unionByName(upserts)


# ---------------------------------------------------------------------------
# Bucketed copy-on-write MERGE
# ---------------------------------------------------------------------------
# A flat parquet snapshot makes every keyed MERGE a whole-table rewrite:
# a full-table write at 100 TB for a 0.01% change batch.  Laying the
# table out as hash-bucket DIRECTORIES (the directory analog of
# Iceberg's bucket partition transform, same pmod(xxhash64) family as
# bucketing.py's metastore layout) lets MERGE rewrite ONLY the buckets
# whose keys changed: the other bucket directories are never read,
# never written, byte-identical after the merge — the file-level
# pruning that makes Iceberg copy-on-write affordable.  This is the one
# keyed MERGE; the streaming CDC sink (run_merge_stream) commits every
# micro-batch through it.

#: directory partition column carrying the bucket id (key=value layout)
BUCKET_COL = "_bucket"
_BUCKET_MANIFEST = "_buckets.json"


def _bucket_expr(key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key).cast("string")),
                  F.lit(n_buckets)).cast("int")


def write_bucketed_snapshot(
    spark: SparkSession,
    df,
    path: str,
    key: str = "doc_id",
    n_buckets: int = 16,
) -> dict:
    """Write ``df`` as a hash-bucketed directory snapshot.

    Layout: ``<path>/_bucket=K/*.parquet`` with
    ``K = pmod(xxhash64(key), n_buckets)``, plus a ``_buckets.json``
    manifest pinning (key, n_buckets) so every later MERGE computes the
    SAME bucket assignment — the co-location contract lives with the
    data, not in call sites.  Reading the snapshot is plain
    ``spark.read.parquet(path)`` (drop :data:`BUCKET_COL`, it is
    derivable).  Bucket count is a layout constant sized once per table
    family (buckets of several hundred MB at 100 TB), never per batch.
    An empty ``df`` writes no bucket directory, only the manifest.
    """
    df.withColumn(BUCKET_COL, _bucket_expr(key, n_buckets)) \
        .write.partitionBy(BUCKET_COL).mode("overwrite").parquet(path)
    with open(os.path.join(path, _BUCKET_MANIFEST), "w") as f:
        json.dump({"key": key, "n_buckets": n_buckets}, f)
    return {"path": path, "n_buckets": n_buckets, "key": key}


def read_bucketed_snapshot(spark: SparkSession, path: str):
    """Read a bucketed snapshot back as data rows (bucket col dropped)."""
    return spark.read.parquet(path).drop(BUCKET_COL)


def bucket_layout(path: str) -> tuple[str, int]:
    """The (key, n_buckets) the manifest of the snapshot at ``path`` pins.

    A directory without a manifest is a flat parquet table (the layout
    ``run_merge_stream`` wrote before it merged bucket by bucket): that
    raises ``ValueError`` naming the path, since it must be
    re-snapshotted with :func:`write_bucketed_snapshot` first.
    """
    manifest = os.path.join(path, _BUCKET_MANIFEST)
    if os.path.isdir(path) and not os.path.exists(manifest):
        raise ValueError(
            f"{path} has no {_BUCKET_MANIFEST}, so it is not a bucketed "
            "snapshot (a flat parquet table?); re-snapshot it with "
            "maintenance.write_bucketed_snapshot before merging into it"
        )
    with open(manifest) as f:
        meta = json.load(f)
    return meta["key"], int(meta["n_buckets"])


def merge_upsert_cow(
    spark: SparkSession,
    path: str,
    changes,
    delete_col: str = "_deleted",
) -> dict:
    """MERGE INTO analog: apply one keyed change batch — full-row
    upserts plus tombstone deletes — to a bucketed snapshot, rewriting
    ONLY the buckets whose keys changed (Iceberg copy-on-write with
    file-level pruning).

    ``changes`` carries the target's full schema plus a boolean
    ``delete_col``: rows with it true remove their key from the table;
    the rest — including rows where the flag is NULL — replace the
    matching target row wholesale (or insert when the key is new).
    Keys must be unique within a batch — enforce upstream;
    last-writer-wins dedup belongs to the producer.  The key and the
    bucket count come from the snapshot's manifest (:func:`bucket_layout`).
    Steps:

    1. recover any bucket left mid-swap by a previous crash,
    2. ONE ``groupBy(bucket)`` aggregate over ``changes`` (at most
       ``n_buckets`` rows) gives the changed-bucket set and the
       change, delete and upsert counts; no changed bucket (an empty
       batch) returns here,
    3. read ONLY those bucket directories, merge (:func:`merge_plan`),
       write the result partitioned by the same bucket expression to a
       temp dir,
    4. swap each changed bucket directory with the compaction
       two-rename protocol (crash in any window is resolved by
       :func:`recover_compaction` per bucket).

    Unchanged buckets are untouched — not read, not rewritten; the
    test pins their files byte-identical.  A crash between bucket
    swaps leaves SOME buckets merged: per-bucket swaps are atomic, the
    table is never torn within a bucket, and re-running the SAME keyed
    change batch converges (keyed MERGE is replay-idempotent — the
    already-merged buckets merge to themselves), which is exactly the
    recovery contract the streaming CDC sink (run_merge_stream) relies
    on for replayed micro-batches.
    """
    key, n_buckets = bucket_layout(path)

    # 1. self-recover every bucket dir (cheap: n_buckets stat calls) and
    # drop a stale temp dir from a run that crashed before its swaps
    for b in range(n_buckets):
        recover_compaction(os.path.join(path, f"{BUCKET_COL}={b}"))
    tmp = path.rstrip("/") + ".__merge_tmp"
    shutil.rmtree(tmp, ignore_errors=True)

    # 2. changed buckets and change counts from one aggregate: bounded
    # by n_buckets, a legitimate driver set
    per_bucket = changes.groupBy(_bucket_expr(key, n_buckets).alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_is_delete(delete_col).cast("long")).alias("d"),
    ).collect()
    changed = sorted(r["b"] for r in per_bucket)
    n = sum(r["n"] for r in per_bucket)
    d = sum(r["d"] for r in per_bucket)
    stats = {
        "path": path, "n_buckets": n_buckets, "buckets_rewritten": changed,
        "n_changes": n, "n_deletes": d, "n_upserts": n - d,
    }
    if not changed:
        return stats

    # 3. merge ONLY the changed buckets' rows
    src_dirs = [
        os.path.join(path, f"{BUCKET_COL}={b}")
        for b in changed
        if os.path.isdir(os.path.join(path, f"{BUCKET_COL}={b}"))
    ]
    if src_dirs:
        target = spark.read.parquet(*src_dirs)
    else:  # all-new buckets (first rows hashing there)
        target = changes.drop(delete_col).limit(0)
    merged = merge_plan(target, changes, key, delete_col)
    merged.withColumn(BUCKET_COL, _bucket_expr(key, n_buckets)) \
        .write.partitionBy(BUCKET_COL).mode("overwrite").parquet(tmp)

    # 4. per-bucket atomic swaps (two-rename protocol per bucket);
    # partitionBy writes no directory for a bucket emptied by deletes
    for b in changed:
        part = f"{BUCKET_COL}={b}"
        _swap_in(os.path.join(tmp, part), os.path.join(path, part))
    shutil.rmtree(tmp, ignore_errors=True)
    return stats
