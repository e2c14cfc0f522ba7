"""10x flagship scale-stress with a planted giant conversation (VERDICT r4 #4).

Builds the bench corpus at 10x (default 10M conversations -> ~165M
turns), plants one 10^5-turn conversation, runs `extract_conversations`
end-to-end, and checks at THAT scale:

  - the giant conversation's output rows are identical to
    `extract_turns` over its input alone (per-turn extraction needs no
    conversation context, so the neighbours cannot change them), and
    it yields one row per input turn,
  - sustained turns/s for the end-to-end job.

This is the north_rule's 10^12-turn story scaled as far as one box
allows.  Prints one JSON line.

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

    # ---- corpus: 10x synth + 1 giant (10^5 turns) -----------------------
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
    t.unionByName(giant).write.mode("overwrite").parquet(data_dir)
    gen_sec = time.time() - t0

    df = spark.read.parquet(data_dir)
    n_turns = df.count()

    # ---- end-to-end run (warmup + 2 measured passes) ------------------
    def run_pass():
        t0 = time.time()
        extract_conversations(df).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    warm = run_pass()
    passes = [run_pass() for _ in range(2)]
    best = min(passes)

    # ---- row-identity of the giant vs extract_turns over it alone -----
    giant_in = df.filter(F.col("conv_id") == "convgiant0")
    got = extract_conversations(df).filter(F.col("conv_id") == "convgiant0")
    want = extract_turns(giant_in)
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    n_giant_rows = got.count()
    assert diff == 0, f"giant rows diverge from extract_turns: {diff}"
    assert n_giant_rows == 100_000

    result = {
        "metric": "scale_stress_10x_extraction",
        "n_convs": N_CONVS,
        "n_turns": n_turns,
        "gen_sec": round(gen_sec, 1),
        "warmup_sec": round(warm, 1),
        "pass_secs": [round(p, 1) for p in passes],
        "best_sec": round(best, 1),
        "turns_per_sec": round(n_turns / best, 1),
        "giant_rows_identical": True,
        "giant_rows": n_giant_rows,
        "cpus": cpus,
    }
    print(json.dumps(result))
    shutil.rmtree(base_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
