"""10x flagship scale-stress with both skew guards LIVE (VERDICT r4 #4).

Builds the bench corpus at 10x (default 10M conversations -> ~165M
turns), plants one 10^5-turn conversation plus three conversations over
``max_bytes``, runs `extract_conversations` end-to-end with the
``max_bytes`` reroute active, and checks at THAT scale:

  - the byte guard reroutes exactly the three fat conversations
    (``stats_out["n_rerouted"] == 3``); the giant is over the turn cap
    and is assembled in turn-index chunks instead,
  - all four planted conversations' output rows are identical to the
    per-turn mirror (`extract_turns`) — the row-identity contract the
    reduced-size pytest (tests/test_pipeline.py
    test_giant_conversation_reroute) pins every run,
  - sustained turns/s for the guarded end-to-end job.

This is the north_rule's 10^12-turn story scaled as far as one box
allows; results go to BENCH.md §1d.  Prints one JSON line.

Usage: python3 scripts/scale_stress.py  [env: OCR_STRESS_CONVS,
OCR_STRESS_DIR, SPARK_GRAFT_CPUS]
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CONVS = int(os.environ.get("OCR_STRESS_CONVS", 10_000_000))
#: reroute threshold for the fat-conversation axis: above the giant's
#: ~2.2 MB of text, below the fat conversations' ~3.0 MB each, so only
#: the fat ones are byte-rerouted and the giant is chunk-assembled
MAX_BYTES = 2_500_000


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_spark.pipeline import extract_conversations, extract_turns
    from ocr_spark.session import get_spark
    from ocr_spark.synth import transcripts

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    base_dir = os.environ.get(
        "OCR_STRESS_DIR",
        "/dev/shm/ocr_stress" if os.path.isdir("/dev/shm") else "/tmp/ocr_stress",
    )
    data_dir = os.path.join(base_dir, "turns10x")
    shutil.rmtree(base_dir, ignore_errors=True)

    spark = get_spark(app_name="ocr_scale_stress", master=f"local[{cpus}]",
                      shuffle_partitions=8 * cpus)

    # ---- corpus: 10x synth + 1 giant (10^5 turns) + 3 fat (>max_bytes)
    t0 = time.time()
    t = transcripts(spark, N_CONVS).select("conv_id", "turn_idx", "role", "text")
    i = F.col("id")
    payload = (
        F.when(i % 7 == 0, F.concat(F.lit("Paris is North of City 50337, turn "),
                                    i.cast("string")))
        .when(i % 7 == 1, F.concat((i % 90 * 100).cast("string"), F.lit(" km")))
        .when(i % 7 == 2, F.lit("the best option is B"))
        .when(i % 7 == 4, F.lit("i am not sure"))
        .otherwise(F.concat(F.lit("plain turn payload "), i.cast("string")))
    )
    giant = spark.range(100_000).select(
        F.lit("convgiant0").alias("conv_id"), i.cast("int").alias("turn_idx"),
        F.when(i == 0, F.lit("system")).when(i % 2 == 1, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        payload.alias("text"),
    )
    # three conversations under the turn cap but over MAX_BYTES total
    # text bytes (300 turns x ~10KB = ~3MB each)
    fat = spark.range(3 * 300).select(
        F.format_string("convfat%03d", (i / 300).cast("int")).alias("conv_id"),
        (i % 300).cast("int").alias("turn_idx"),
        F.when(i % 300 == 0, F.lit("system")).when(i % 2 == 1, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        F.concat(F.lit("fatpayload "), i.cast("string"), F.lit(" "),
                 F.repeat(F.lit("x"), 10_000)).alias("text"),
    )
    t.unionByName(giant).unionByName(fat).write.mode("overwrite").parquet(data_dir)
    gen_sec = time.time() - t0

    df = spark.read.parquet(data_dir)
    n_turns = df.count()

    # ---- guarded end-to-end run (warmup + 2 measured passes) ----------
    def run_pass(stats):
        t0 = time.time()
        out = extract_conversations(df, max_bytes=MAX_BYTES, stats_out=stats)
        out.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    stats = {}
    warm = run_pass(stats)
    passes = [run_pass(stats) for _ in range(2)]
    best = min(passes)

    assert stats["n_rerouted"] == 3, f"expected 3 rerouted, got {stats}"

    # ---- row-identity of the planted conversations vs the mirror ------
    planted_ids = ["convgiant0", "convfat000", "convfat001", "convfat002"]
    planted_in = df.filter(F.col("conv_id").isin(planted_ids))
    got = extract_conversations(df, max_bytes=MAX_BYTES).filter(
        F.col("conv_id").isin(planted_ids))
    want = extract_turns(planted_in)
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    n_planted_rows = want.count()
    assert diff == 0, f"planted rows diverge from per-turn mirror: {diff}"
    assert n_planted_rows == 100_000 + 3 * 300

    result = {
        "metric": "scale_stress_10x_guarded_extraction",
        "n_convs": N_CONVS,
        "n_turns": n_turns,
        "gen_sec": round(gen_sec, 1),
        "warmup_sec": round(warm, 1),
        "pass_secs": [round(p, 1) for p in passes],
        "best_sec": round(best, 1),
        "turns_per_sec": round(n_turns / best, 1),
        "n_rerouted": stats["n_rerouted"],
        "planted_rows_identical": True,
        "planted_rows": n_planted_rows,
        "cpus": cpus,
    }
    print(json.dumps(result))
    shutil.rmtree(base_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
