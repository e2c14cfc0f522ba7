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
``_bucket=K/`` directories plus a ``_buckets.json`` manifest of key,
bucket count and schema): it rewrites only the buckets a change batch
touches and swaps each one in with the same two-rename protocol, so
:func:`recover_compaction` resolves a crash in the swap window for both.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
) -> dict:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Returns a stats dict (files/bytes before and after, rows, skipped
    flag) suitable for a lineage/metrics row.  No-op (skipped=True)
    when fewer than two of its parquet files are smaller than
    ``target_file_bytes``.

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
    if small_files < 2:
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


def _is_delete():
    """The tombstone flag, NULL read as false (an upsert)."""
    return F.coalesce(F.col(DELETE_COL), F.lit(False))


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


def merge_plan(target, changes, key: str):
    """Build the merged rows :func:`merge_upsert_cow` writes.

    Exposed separately so the no-target-shuffle plan shape can be
    asserted on the exact DataFrame the merge constructs
    (tests/test_maintenance.py explains this, not a hand copy).  The
    target is NEVER shuffled: matched rows leave via one ``left_anti``
    join against the broadcast change-key set, and the rewrite is a
    scan + union + write.  A NULL :data:`DELETE_COL` is treated as false
    (an upsert): ``~NULL`` is NULL, and a bare ``filter(~col)`` would
    silently drop the row from the upsert side while its key still
    anti-joins the target row away — data loss disguised as a delete.
    """
    data_cols = target.columns
    kept = target.join(F.broadcast(changes.select(key)), on=key, how="left_anti")
    upserts = changes.filter(~_is_delete()).select(*data_cols)
    return kept.unionByName(upserts)


# ---------------------------------------------------------------------------
# Bucketed snapshots and the copy-on-write MERGE
# ---------------------------------------------------------------------------
# A flat parquet snapshot makes every keyed MERGE a whole-table rewrite:
# a full-table write at 100 TB for a 0.01% change batch.  Laying the
# table out as hash-bucket DIRECTORIES (the directory analog of
# Iceberg's bucket partition transform) lets MERGE rewrite ONLY the buckets
# whose keys changed: the other bucket directories are never read,
# never written, byte-identical after the merge — the file-level
# pruning that makes Iceberg copy-on-write affordable.  It is the one
# bucketed layout: checkpoint staging (lineage), MERGE change batches
# and MERGE targets (streaming.run_merge_stream) all use it.

#: directory partition column carrying the bucket id (key=value layout)
BUCKET_COL = "_bucket"
#: the change batch's tombstone flag (:func:`merge_upsert_cow`)
DELETE_COL = "_deleted"
BUCKET_MANIFEST = "_buckets.json"


def bucket_expr(key: str, n_buckets: int):
    """The bucket id of column ``key``: ``pmod(xxhash64(string(key)), n_buckets)``."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")),
                  F.lit(n_buckets)).cast("int")


def write_manifest(path: str, manifest: dict) -> None:
    """Write ``manifest`` as JSON at ``path`` by atomic replace: a
    reader or a restart never sees a torn manifest."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)


def _bucket_dir(path: str, b: int) -> str:
    return os.path.join(path, f"{BUCKET_COL}={b}")


def write_bucketed_snapshot(
    spark: SparkSession,
    df,
    path: str,
    key: str = "doc_id",
    n_buckets: int = 16,
) -> dict:
    """Write ``df`` as a hash-bucketed directory snapshot.

    Layout: ``<path>/_bucket=K/*.parquet`` with ``K =``
    :func:`bucket_expr`, plus a ``_buckets.json`` manifest, written
    after the data by atomic replace, pinning the key, ``n_buckets`` and
    ``df``'s schema: every later MERGE computes the SAME bucket
    assignment, and :func:`read_bucketed_snapshot` never infers the
    schema.  Bucket count is a layout constant sized once per table
    family (buckets of several hundred MB at 100 TB), never per batch.
    An empty ``df`` writes no bucket directory, only the manifest.
    """
    df.withColumn(BUCKET_COL, bucket_expr(key, n_buckets)) \
        .write.partitionBy(BUCKET_COL).mode("overwrite").parquet(path)
    write_manifest(os.path.join(path, BUCKET_MANIFEST), {
        "key": key, "n_buckets": n_buckets, "schema": df.schema.jsonValue(),
    })
    return {"path": path, "n_buckets": n_buckets, "key": key}


def _manifest(path: str) -> dict:
    """The manifest of the snapshot at ``path``; ``ValueError`` for a
    flat parquet table (no manifest) or a manifest from before it
    recorded the schema: re-snapshot those first."""
    manifest = os.path.join(path, BUCKET_MANIFEST)
    fix = "re-snapshot it with maintenance.write_bucketed_snapshot"
    if os.path.isdir(path) and not os.path.exists(manifest):
        raise ValueError(
            f"{path} has no {BUCKET_MANIFEST}, so it is not a bucketed "
            f"snapshot (a flat parquet table?); {fix}"
        )
    with open(manifest) as f:
        meta = json.load(f)
    if "schema" not in meta:
        raise ValueError(f"{manifest} records no schema; {fix}")
    return meta


def bucket_layout(path: str) -> tuple[str, int]:
    """The (key, n_buckets) the manifest of the snapshot at ``path`` pins."""
    meta = _manifest(path)
    return meta["key"], int(meta["n_buckets"])


def read_bucketed_snapshot(spark: SparkSession, path: str, buckets=None):
    """The data rows of the snapshot at ``path``, read with the
    manifest's schema: no inference job, and a snapshot with no bucket
    directory reads as 0 rows.  ``buckets`` reads only those bucket
    directories (an absent one holds no rows), each by its path: a root
    read lists every bucket directory, in a Spark job above 32 of them.
    """
    reader = spark.read.schema(StructType.fromJson(_manifest(path)["schema"]))
    if buckets is None:
        return reader.parquet(path).drop(BUCKET_COL)
    dirs = [_bucket_dir(path, b) for b in buckets]
    return reader.parquet(*(d for d in dirs if os.path.isdir(d)))


def merge_upsert_cow(spark: SparkSession, path: str, changes) -> dict:
    """MERGE INTO analog: apply one keyed change batch — full-row
    upserts plus tombstone deletes — to a bucketed snapshot, rewriting
    ONLY the buckets whose keys changed (Iceberg copy-on-write with
    file-level pruning).

    ``changes`` carries the target's full schema plus the boolean
    :data:`DELETE_COL`: rows with it true remove their key from the
    table; the rest — including rows where the flag is NULL — replace
    the matching target row wholesale (or insert when the key is new).
    Keys must be unique within a batch — enforce upstream;
    last-writer-wins dedup belongs to the producer.  The key and the
    bucket count come from the snapshot's manifest (:func:`bucket_layout`).
    Steps:

    1. recover any bucket left mid-swap by a previous crash,
    2. write ``changes`` ONCE, as a bucketed snapshot on the table's
       key and bucket count (``<path>.__merge_changes``): the change
       and delete counts are observed on that write, and its
       ``_bucket=K`` directories are the changed buckets.  No changed
       bucket (an empty batch) skips steps 3 and 4,
    3. read ONLY those bucket directories of the table, merge them with
       the staged changes (:func:`merge_plan`), write the result as a
       bucketed snapshot to a temp dir,
    4. swap each changed bucket that has a table or a merged directory
       (``buckets_rewritten``) with the compaction two-rename protocol
       (crash in any window is resolved by :func:`recover_compaction`
       per bucket).

    ``changes`` is evaluated once, by the write of step 2.  Unchanged
    buckets are not read, not rewritten; the test pins their files
    byte-identical.  A crash between bucket swaps leaves SOME buckets
    merged: per-bucket swaps are atomic, the table is never torn within
    a bucket, and re-running the SAME keyed change batch converges
    (keyed MERGE is replay-idempotent — the already-merged buckets
    merge to themselves), which is exactly the recovery contract the
    streaming CDC sink (run_merge_stream) relies on for replayed
    micro-batches.
    """
    key, n_buckets = bucket_layout(path)

    # 1. self-recover every bucket dir (cheap: n_buckets stat calls); a
    # stale temp dir is replaced by the overwrite of step 3
    for b in range(n_buckets):
        recover_compaction(_bucket_dir(path, b))
    staged = path.rstrip("/") + ".__merge_changes"
    tmp = path.rstrip("/") + ".__merge_tmp"

    # 2. the change batch, bucketed once; its counts observed on the write
    obs = Observation()
    write_bucketed_snapshot(spark, changes.observe(
        obs, F.count(F.lit(1)).alias("n"), F.count_if(_is_delete()).alias("d"),
    ), staged, key, n_buckets)
    n, d = obs.get["n"], obs.get["d"]
    changed = sorted(int(d.split("=")[1]) for d in os.listdir(staged)
                     if d.startswith(f"{BUCKET_COL}="))

    # 3. merge ONLY the changed buckets' rows; 4. per-bucket atomic
    # swaps (two-rename protocol per bucket).  The temp snapshot has no
    # directory for a bucket emptied by deletes, so its swap removes it;
    # a bucket with neither a target nor a merged directory (deletes of
    # absent keys) is not rewritten
    rewritten = []
    if changed:
        merged = merge_plan(read_bucketed_snapshot(spark, path, changed),
                            read_bucketed_snapshot(spark, staged), key)
        write_bucketed_snapshot(spark, merged, tmp, key, n_buckets)
        rewritten = [b for b in changed if os.path.isdir(_bucket_dir(path, b))
                     or os.path.isdir(_bucket_dir(tmp, b))]
        for b in rewritten:
            _swap_in(_bucket_dir(tmp, b), _bucket_dir(path, b))
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
    return {
        "path": path, "n_buckets": n_buckets, "buckets_rewritten": rewritten,
        "n_changes": n, "n_deletes": d, "n_upserts": n - d,
    }
