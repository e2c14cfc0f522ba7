#!/usr/bin/env python3
"""spark-submit entrypoint for the extraction pipeline (north_rule
deployment path).

On a cluster::

    python -c "from ocr_spark.deploy import package_zip; print(package_zip())"
    spark-submit --py-files <zip> scripts/run_extract.py \
        --input  <transcript parquet/iceberg path> \
        --output <output dir> [--buckets 64]

The script only uses ``ocr_spark`` through the shipped zip (it does
NOT assume the repo is on the executors' filesystem), runs the
bucket-committed resumable pipeline from lineage.py, and prints a
one-line JSON summary.  Re-running on a partially-committed output
dir skips committed buckets (the kill/restart path).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcript parquet (conv_id, turn_idx, role, text); "
                         "each conversation's turn_idx must run 0..n-1 with "
                         "no gaps for the lineage n_convs/n_rerouted counters "
                         "to be exact (deduplicated turn tables break this)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--synth-convs", type=int, default=0,
                    help="generate a synthetic input of N convs instead of reading --input")
    ap.add_argument("--compact-target-mb", type=int, default=0,
                    help="after the run, compact each committed bucket's "
                         "data dir to ~N MB files (0 = off); per-bucket "
                         "so the bucket=<i> partition layout survives")
    args = ap.parse_args()

    # Under spark-submit the session is configured by submit args; this
    # sets one app-level conf, as session.get_spark does: PySpark's
    # per-Column call-site capture off (4-5 py4j round trips per op).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ocr_spark_extract")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ocr_spark.lineage import CheckpointedExtraction

    if args.synth_convs:
        from ocr_spark.synth import transcripts

        t = transcripts(spark, args.synth_convs)
    else:
        t = spark.read.parquet(args.input)

    ck = CheckpointedExtraction(spark, args.output, n_buckets=args.buckets)
    t0 = time.time()
    if not ck.is_staged():
        ck.stage_by_bucket(t)
    stats = ck.run()
    wall = time.time() - t0

    compacted = 0
    if args.compact_target_mb:
        import glob
        import os

        from ocr_spark.maintenance import compact_parquet_dir

        for bdir in sorted(glob.glob(os.path.join(args.output, "data", "bucket=*"))):
            st = compact_parquet_dir(  # self-recovers any prior crash window
                spark, bdir, target_file_bytes=args.compact_target_mb * 1024 * 1024
            )
            compacted += 0 if st["skipped"] else 1

    n_turns = sum(s.n_turns for s in stats)
    print(json.dumps({
        "buckets_compacted": compacted,
        "buckets_processed": len(stats),
        "n_turns": n_turns,
        "n_fallback": sum(s.n_fallback for s in stats),
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1) if wall > 0 else None,
        "resumed": len(stats) < args.buckets,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
