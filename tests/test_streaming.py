"""Structured Streaming ingestion tests (exactly-once + lineage)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.streaming import run_stream


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _turns(conv_id: str, variant: int) -> list[dict]:
    if variant == 0:
        a = "Akureyri is North of City 50337."
    elif variant == 1:
        a = "4200 km"
    else:
        a = "i am not sure"  # extractor-miss -> fallback
    return [
        {"conv_id": conv_id, "turn_idx": 0, "role": "user",
         "text": "From City 50337 to Akureyri, how far?", "tool": None,
         "ts": "2024-01-01T00:00:00"},
        {"conv_id": conv_id, "turn_idx": 1, "role": "assistant", "text": a,
         "tool": None, "ts": "2024-01-01T00:00:01"},
    ]


def _check_drain_lineage(spark, out, emitted, seen):
    """Each lineage row of ``out`` counts its ``batch_id`` directory's
    rows, one row per batch, and the batches not in ``seen`` (this
    drain's) sum to ``emitted``; returns every batch id."""
    per_batch = dict(
        spark.read.parquet(os.path.join(out, "data")).groupBy("batch_id").count().collect()
    )
    rows = spark.read.parquet(os.path.join(out, "lineage")).collect()
    lin = {r["batch_id"]: r["n_turns"] for r in rows}
    assert len(rows) == len(lin) and set(per_batch) <= set(lin)
    assert lin == {b: per_batch.get(b, 0) for b in lin}
    assert emitted == sum(n for b, n in lin.items() if b not in seen)
    return set(lin)


@pytest.fixture()
def dirs(tmp_path):
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    return str(inp), str(out)


def test_stream_drains_and_writes_lineage(spark, dirs, tmp_path):
    from ocr_spark.lineage import CheckpointedExtraction
    from ocr_spark.streaming import TRANSCRIPT_SCHEMA

    inp, out = dirs
    rows = [t for i in range(20) for t in _turns(f"c{i:03d}", i % 3)]
    _write_jsonl(os.path.join(inp, "batch0.jsonl"), rows[:24])
    run_stream(spark, inp, out)
    # a restart picks up the next drop file as a new micro-batch
    _write_jsonl(os.path.join(inp, "batch1.jsonl"), rows[24:])
    run_stream(spark, inp, out)

    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == len(rows)
    got = {r["block_class"] for r in data.collect()}
    assert "direction" in got and "distance" in got

    lin = spark.read.parquet(os.path.join(out, "lineage"))
    tot = lin.agg(F.sum("n_turns").alias("t"), F.sum("n_fallback").alias("f")).collect()[0]
    assert tot["t"] == len(rows)
    assert tot["f"] > 0  # planted extractor misses surface as fallbacks

    # each lineage row counts exactly its own batch directory's rows
    per_batch = {r["batch_id"]: r["count"]
                 for r in data.groupBy("batch_id").count().collect()}
    lin_rows = lin.collect()
    assert sorted(per_batch) == sorted(r["batch_id"] for r in lin_rows) == [0, 1]
    first_turns = dict(
        data.filter(F.col("turn_idx") == 0).groupBy("batch_id").count().collect()
    )
    for r in lin_rows:
        assert r["n_turns"] == per_batch[r["batch_id"]]
        assert r["n_ok"] + r["n_fallback"] == r["n_turns"]
        assert r["n_convs"] == first_turns.get(r["batch_id"], 0)

    # a bucket commit of the same turns writes the same lineage columns
    # and, summed, the same counters
    ck = CheckpointedExtraction(spark, str(tmp_path / "batch"), n_buckets=1)
    ck.stage_by_bucket(spark.read.schema(TRANSCRIPT_SCHEMA).json(inp))
    ck.run()
    bucket_lin = ck.read_lineage().drop("bucket")
    assert lin.drop("batch_id").schema == bucket_lin.schema
    counters = ["n_convs", "n_turns", "n_ok", "n_fallback", "n_rerouted"]
    total = lambda df: df.agg(*(F.sum(c).alias(c) for c in counters)).first()
    assert total(lin) == total(bucket_lin)


def test_stream_resume_is_exactly_once(spark, dirs):
    inp, out = dirs
    _write_jsonl(os.path.join(inp, "a.jsonl"),
                 [t for i in range(10) for t in _turns(f"a{i}", i % 3)])
    run_stream(spark, inp, out)
    n1 = spark.read.parquet(os.path.join(out, "data")).count()
    assert n1 == 20

    # restart with no new files: checkpoint prevents reprocessing
    run_stream(spark, inp, out)
    assert spark.read.parquet(os.path.join(out, "data")).count() == n1

    # new file arrives; only it is processed on the next run
    _write_jsonl(os.path.join(inp, "b.jsonl"),
                 [t for i in range(5) for t in _turns(f"b{i}", 0)])
    run_stream(spark, inp, out)
    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() == n1 + 10
    # per-turn rows of the first batch appear exactly once
    dup = (data.groupBy("conv_id", "turn_idx").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0


def test_stream_spans_match_batch_path(spark, dirs):
    """run_stream writes the batch extraction's rows: each conversation's
    turns are split across two drop files drained by two run_stream
    calls (a restart), so the halves land in different micro-batches,
    and the stream's rows still equal extract_conversations over the
    same turns — including a conversation with two assistant turns."""
    from ocr_spark.pipeline import EXTRACT_SCHEMA, extract_conversations
    from ocr_spark.streaming import TRANSCRIPT_SCHEMA

    inp, out = dirs
    convs = [_turns(f"c{i}", i % 3) for i in range(6)]
    convs.append(_turns("m0", 1) + [
        dict(t, turn_idx=t["turn_idx"] + 2) for t in _turns("m0", 0)
    ])
    _write_jsonl(os.path.join(inp, "a.jsonl"),
                 [t for c in convs for t in c[:len(c) // 2]])
    run_stream(spark, inp, out)
    _write_jsonl(os.path.join(inp, "b.jsonl"),
                 [t for c in convs for t in c[len(c) // 2:]])
    run_stream(spark, inp, out)

    data = spark.read.parquet(os.path.join(out, "data"))
    assert {r["batch_id"] for r in data.select("batch_id").distinct().collect()} == {0, 1}
    got = data.drop("batch_id")
    assert got.schema == EXTRACT_SCHEMA
    want = extract_conversations(spark.read.schema(TRANSCRIPT_SCHEMA).json(inp))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    row = got.filter((F.col("conv_id") == "c0") & (F.col("role") == "user")).collect()[0]
    spans = [(s["key"], s["start"], s["end"]) for s in row["char_spans"]]
    assert ("City 50337", 5, 15) in spans


def test_windowed_aggregation_with_watermark(spark, dirs, tmp_path):
    """Event-time windowed counts on a stream equal the same windowed
    aggregation computed in batch over the same files."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming import (
        TRANSCRIPT_SCHEMA,
        read_transcript_stream,
        stream_turn_rate,
    )

    inp, _ = dirs
    rows = []
    for i in range(30):
        hour = i % 3
        for t in _turns(f"c{i:03d}", i % 3):
            t = dict(t)
            t["ts"] = f"2024-01-01T{hour:02d}:{i % 60:02d}:00"
            rows.append(t)
    _write_jsonl(os.path.join(inp, "a.jsonl"), rows)

    q = (
        stream_turn_rate(read_transcript_stream(spark, inp))
        .writeStream.format("memory")
        .queryName("turn_rate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (str(r["window_start"]), r["role"], r["n_turns"], r["total_chars"])
        for r in spark.sql("SELECT * FROM turn_rate").collect()
    )

    batch = (
        spark.read.schema(TRANSCRIPT_SCHEMA).json(inp)
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count("*").alias("n_turns"), F.sum(F.length("text")).alias("total_chars"))
    )
    want = sorted(
        (str(r["w"]["start"]), r["role"], r["n_turns"], r["total_chars"])
        for r in batch.collect()
    )
    assert got == want
    assert len({w for (w, _, _, _) in got}) == 3  # three event-time hours


def test_stream_dedup_exact_across_batches_and_restarts(spark, dirs):
    """Streaming exact-dedup: (a) duplicates WITHIN a micro-batch and
    ACROSS micro-batches are suppressed, matching batch dedup_exact
    semantics over the union; (b) a second drain (fresh query, same
    checkpoint) still suppresses everything already seen — the
    seen-fingerprint state survives restart."""
    from ocr_spark.streaming import run_dedup_stream

    inp, out = dirs
    a = _turns("c0", 0) + _turns("c1", 0)            # c1 repeats c0's texts
    b = _turns("c2", 1) + _turns("c3", 0)            # one new answer + repeats
    _write_jsonl(os.path.join(inp, "a.jsonl"), a)
    _write_jsonl(os.path.join(inp, "b.jsonl"), b)

    emitted = run_dedup_stream(spark, inp, out)
    got = spark.read.parquet(os.path.join(out, "data"))
    distinct_texts = {(r["role"], r["text"]) for r in got.collect()}
    want = {(r["role"], r["text"]) for r in map(dict, a + b)}
    assert distinct_texts == want            # every distinct content once
    assert emitted == got.count() == len(want)
    assert got.groupBy("fp").count().filter(F.col("count") > 1).count() == 0
    seen = _check_drain_lineage(spark, out, emitted, set())
    assert seen == {0, 1}                    # one micro-batch per file

    # restart: replay old content + one genuinely new turn
    c = _turns("c4", 0) + _turns("c5", 2)
    _write_jsonl(os.path.join(inp, "c.jsonl"), c)
    emitted2 = run_dedup_stream(spark, inp, out)
    assert emitted2 == 1                     # only the variant-2 answer is new
    assert spark.read.parquet(os.path.join(out, "data")).count() == len(want) + 1
    assert _check_drain_lineage(spark, out, emitted2, seen) == {0, 1, 2}


def test_dedup_drain_runs_no_job_outside_its_query(spark, dirs, count_jobs):
    """With the sink already written, a dedup drain runs every Spark job
    inside its streaming query (whose thread has its own job group):
    the emitted count comes from the observed lineage, not from
    recounting the sink before and after."""
    from ocr_spark.streaming import run_dedup_stream

    inp, out = dirs
    _write_jsonl(os.path.join(inp, "a.jsonl"), _turns("c0", 0))
    assert run_dedup_stream(spark, inp, out) == 2
    _write_jsonl(os.path.join(inp, "b.jsonl"), _turns("c1", 1))
    emitted, jobs = count_jobs("dedup-drain", lambda: run_dedup_stream(spark, inp, out))
    assert emitted == 1                      # the user turn repeats c0's
    assert jobs == 0


def test_stream_sessionize_matches_batch_session_window(spark, dirs):
    """Streaming session_window drain (append mode, availableNow) must
    equal the same session_window aggregation computed in batch over
    the same files — sessions split where turn gaps >= 15 min."""
    from ocr_spark.streaming import (
        TRANSCRIPT_SCHEMA,
        read_transcript_stream,
        stream_sessionize,
    )

    inp, _ = dirs
    rows = []
    for i in range(12):
        # three turns: second 2 min after the first, third 40 min later
        # -> two sessions per conversation (40 min >= 15 min gap)
        two = _turns(f"s{i:03d}", i % 3)
        three = two + [dict(two[1], turn_idx=2, text="and one more thing")]
        for j, t in enumerate(three):
            t = dict(t)
            minute = [0, 2, 42][j]
            t["ts"] = f"2024-01-01T{i % 3:02d}:{minute:02d}:00"
            rows.append(t)
    _write_jsonl(os.path.join(inp, "a.jsonl"), rows[::2])
    _write_jsonl(os.path.join(inp, "b.jsonl"), rows[1::2])
    # Append mode emits a session only after the WATERMARK passes its
    # end — a backlog alone never finalizes its own tail.  A late
    # sentinel turn (next day) pushes the watermark past every real
    # session; the sentinel's own session stays open and unemitted.
    sentinel = dict(_turns("zzz", 0)[0], ts="2024-01-02T12:00:00")
    _write_jsonl(os.path.join(inp, "c.jsonl"), [sentinel])

    q = (
        stream_sessionize(read_transcript_stream(spark, inp, max_files=1))
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["conv_id"], str(r["sess_start"]), str(r["sess_end"]), r["n_turns"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    )

    batch = (
        spark.read.schema(TRANSCRIPT_SCHEMA).json(inp)
        .groupBy(F.session_window("ts", "15 minutes").alias("sw"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
    )
    want = sorted(
        (r["conv_id"], str(r["sw"]["start"]), str(r["sw"]["end"]), r["n_turns"])
        for r in batch.collect()
        if r["conv_id"] != "zzz"
    )
    assert got == want
    # two sessions per conversation: (turns 0,1) and (turn 2)
    assert len(got) == 24
    assert sorted({n for (_, _, _, n) in got}) == [1, 2]


def test_dedup_stream_empty_input_returns_zero(spark, dirs, tmp_path):
    """A drain over an empty drop directory commits no micro-batches and
    never creates the sink dir — the helper must return 0, not raise."""
    from ocr_spark.streaming import run_dedup_stream

    inp = str(tmp_path / "empty_in")
    os.makedirs(inp)
    out = str(tmp_path / "empty_out")
    assert run_dedup_stream(spark, inp, out) == 0


def test_stream_clean_normalize_before_dedup(spark, dirs):
    """stream_clean: (a) raw byte variants that normalize equal (curly
    vs straight quotes, case, NBSP) collide on the normalized
    fingerprint — the later drop is suppressed across drains; (b) each
    emitted row carries the same Gopher verdict the batch rule column
    computes on its normalized text."""
    from ocr_spark.queries.ccnet_ops import gopher_verdict_col, norm_col
    from ocr_spark.streaming import run_clean_stream

    raw = "The “quick” brown fox — jumps"
    variant = "the \"quick\" brown fox - jumps"       # normalizes equal
    fresh = "a genuinely different drop of text"
    mk = lambda cid, text: {
        "conv_id": cid, "turn_idx": 0, "role": "user", "text": text,
        "tool": None, "ts": "2024-01-01T00:00:00",
    }
    inp, out = dirs
    _write_jsonl(os.path.join(inp, "a.jsonl"), [mk("c0", raw)])
    emitted = run_clean_stream(spark, inp, out)
    assert emitted == 1
    seen = _check_drain_lineage(spark, out, emitted, set())

    # second drain: the byte-variant is suppressed, the fresh one emits
    _write_jsonl(os.path.join(inp, "b.jsonl"),
                 [mk("c1", variant), mk("c2", fresh)])
    emitted2 = run_clean_stream(spark, inp, out)
    assert emitted2 == 1
    assert len(_check_drain_lineage(spark, out, emitted2, seen)) == len(seen) + 1
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == 2
    texts = {r["text"] for r in got.collect()}
    assert texts == {raw, fresh}             # first arrival wins

    # verdicts match the batch rule column over the same normalized text
    batch = spark.createDataFrame(
        [(raw,), (fresh,)], ["text"]
    ).select(
        norm_col(F.col("text")).alias("norm_text")
    ).select("norm_text", gopher_verdict_col(F.col("norm_text")).alias("v"))
    want = {r["norm_text"]: r["v"] for r in batch.collect()}
    for r in got.collect():
        assert r["verdict"] == want[r["norm_text"]]
        assert r["verdict"] == "word_count"   # both well under 50 words


def test_stream_tool_enrich_matches_batch_interval_join(spark, dirs, tmp_path):
    """Stream-stream interval join (availableNow drain) must equal the
    same join computed in batch: tool events within [ts - 10 min, ts]
    of a same-conversation turn attach; older or cross-conv ones
    don't."""
    from ocr_spark.streaming import (
        TRANSCRIPT_SCHEMA,
        read_transcript_stream,
        stream_tool_enrich,
    )

    inp, _ = dirs
    tool_dir = str(tmp_path / "tools")
    os.makedirs(tool_dir)

    turn_rows, tool_rows = [], []
    for i in range(6):
        c = f"e{i:03d}"
        turn_rows.append(
            {"conv_id": c, "turn_idx": 1, "role": "assistant",
             "text": "4200 km", "tool": None,
             "ts": f"2024-01-01T0{i}:30:00"})
        # in-window (1 min before) -> matches
        tool_rows.append(
            {"conv_id": c, "turn_idx": 0, "role": "tool", "text": None,
             "tool": "geo_lookup", "ts": f"2024-01-01T0{i}:29:00"})
        # out-of-window (30 min before) -> no match
        tool_rows.append(
            {"conv_id": c, "turn_idx": 0, "role": "tool", "text": None,
             "tool": "geo_lookup", "ts": f"2024-01-01T0{i}:00:00"})
    # cross-conversation event inside the window -> no match
    tool_rows.append(
        {"conv_id": "other", "turn_idx": 0, "role": "tool", "text": None,
         "tool": "geo_lookup", "ts": "2024-01-01T00:29:30"})
    _write_jsonl(os.path.join(inp, "turns.jsonl"), turn_rows)
    _write_jsonl(os.path.join(tool_dir, "tools.jsonl"), tool_rows)

    q = (
        stream_tool_enrich(
            read_transcript_stream(spark, inp, max_files=1),
            read_transcript_stream(spark, tool_dir, max_files=1),
        )
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["conv_id"], r["turn_idx"], str(r["ts"]), r["tool_name"], str(r["tool_ts"]))
        for r in spark.sql("SELECT * FROM enriched").collect()
    )

    bt = spark.read.schema(TRANSCRIPT_SCHEMA).json(inp)
    be = spark.read.schema(TRANSCRIPT_SCHEMA).json(tool_dir).select(
        F.col("conv_id").alias("t_conv_id"),
        F.col("tool").alias("tool_name"),
        F.col("ts").alias("tool_ts"),
    )
    batch = bt.join(
        be,
        (bt["conv_id"] == be["t_conv_id"])
        & (be["tool_ts"] >= F.expr("ts - interval 10 minutes"))
        & (be["tool_ts"] <= bt["ts"]),
        "inner",
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], str(r["ts"]), r["tool_name"], str(r["tool_ts"]))
        for r in batch.collect()
    )
    assert got == want
    assert len(got) == 6          # exactly the six in-window events
    assert {t for (_, _, _, t, _) in got} == {"geo_lookup"}


def test_stream_tool_enrich_left_outer_emits_unmatched(spark, dirs, tmp_path):
    """left_outer mode: a turn with no in-window tool event emits a
    null-tool row once the watermark passes its candidate interval
    (sentinels in BOTH streams advance the query watermark, which is
    the min across sources); matched turns emit exactly their
    matches."""
    from ocr_spark.streaming import read_transcript_stream, stream_tool_enrich

    inp, _ = dirs
    tool_dir = str(tmp_path / "tools")
    os.makedirs(tool_dir)

    turn_rows = [
        {"conv_id": "m000", "turn_idx": 1, "role": "assistant",
         "text": "4200 km", "tool": None, "ts": "2024-01-01T01:30:00"},
        {"conv_id": "u000", "turn_idx": 1, "role": "assistant",
         "text": "4200 km", "tool": None, "ts": "2024-01-01T02:30:00"},
        # watermark sentinel (its own interval never closes)
        {"conv_id": "zzz", "turn_idx": 0, "role": "user", "text": "late",
         "tool": None, "ts": "2024-01-02T12:00:00"},
    ]
    tool_rows = [
        {"conv_id": "m000", "turn_idx": 0, "role": "tool", "text": None,
         "tool": "geo_lookup", "ts": "2024-01-01T01:29:00"},
        {"conv_id": "zzz2", "turn_idx": 0, "role": "tool", "text": None,
         "tool": "noop", "ts": "2024-01-02T12:00:00"},
    ]
    _write_jsonl(os.path.join(inp, "turns.jsonl"), turn_rows)
    _write_jsonl(os.path.join(tool_dir, "tools.jsonl"), tool_rows)

    q = (
        stream_tool_enrich(
            read_transcript_stream(spark, inp, max_files=1),
            read_transcript_stream(spark, tool_dir, max_files=1),
            how="left_outer",
        )
        .writeStream.format("memory")
        .queryName("enriched_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["conv_id"], r["tool_name"])
        for r in spark.sql("SELECT * FROM enriched_outer").collect()
        if r["conv_id"] != "zzz"
    }
    assert got == {("m000", "geo_lookup"), ("u000", None)}


def test_run_merge_stream_cdc_upsert_delete(spark, dirs, tmp_path):
    """Two drains of one micro-batch each, merged into a bucketed table:
    batch 2's update wins over batch 1's insert, the DELETE tombstone
    removes its key, and replaying the final change file by hand (the
    at-least-once case) leaves the table unchanged (MERGE idempotence).
    A micro-batch runs 4 Spark jobs into a fresh table and into
    existing buckets alike: the dedup window's map stage, the change
    batch's one bucketed write (its counts observed there), the
    broadcast of the staged change keys and the merged write."""
    from ocr_spark.maintenance import merge_upsert_cow, read_bucketed_snapshot
    from ocr_spark.streaming import run_merge_stream

    inp, _ = dirs
    tbl = str(tmp_path / "state_table")
    sc = spark.sparkContext

    def change(cid, turn_idx, text, tool=None, ts="2024-01-01T00:00:00"):
        return {"conv_id": cid, "turn_idx": turn_idx, "role": "assistant",
                "text": text, "tool": tool, "ts": ts}

    def drain(name, rows):
        """Drop one change file and drain it; the drain's job count."""
        _write_jsonl(os.path.join(inp, name), rows)
        q = run_merge_stream(spark, inp, tbl)
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 1
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    # one drain per file, so batch 2 is applied after batch 1 commits
    assert drain("b0.jsonl", [change("c1", 0, "v1"), change("c2", 0, "other")]) == 4
    assert drain("b1.jsonl",                     # c1's and c2's buckets exist
                 [change("c1", 1, "v2"),              # update c1
                  change("c3", 0, "new"),             # insert c3
                  change("c2", 1, None, tool="DELETE")]) == 4  # delete c2
    got = {r["conv_id"]: r["text"] for r in read_bucketed_snapshot(spark, tbl).collect()}
    assert got == {"c1": "v2", "c3": "new"}

    # replay the LAST batch manually: state must not change
    import json as _json
    rows = [_json.loads(l) for l in open(os.path.join(inp, "b1.jsonl"))]
    replay = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
          r["ts"].replace("T", " ")) for r in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "_deleted", F.col("tool") == F.lit("DELETE"))
    merge_upsert_cow(spark, tbl, replay)
    again = {r["conv_id"]: r["text"] for r in read_bucketed_snapshot(spark, tbl).collect()}
    assert again == got


def test_run_merge_stream_seeded_empty_table_reads(spark, dirs, tmp_path):
    """The table run_merge_stream seeds before any change row arrives
    has no bucket directory: it reads as 0 rows with the transcript
    columns, and an all-delete micro-batch into it writes no bucket and
    leaves it readable."""
    from ocr_spark.maintenance import BUCKET_COL, read_bucketed_snapshot
    from ocr_spark.streaming import TRANSCRIPT_SCHEMA, run_merge_stream

    inp, _ = dirs
    tbl = str(tmp_path / "seeded")
    run_merge_stream(spark, inp, tbl)            # no input yet: seeds only
    seeded = read_bucketed_snapshot(spark, tbl)
    assert seeded.schema == TRANSCRIPT_SCHEMA and seeded.count() == 0

    _write_jsonl(os.path.join(inp, "del.jsonl"), [
        {"conv_id": c, "turn_idx": 0, "role": "assistant", "text": None,
         "tool": "DELETE", "ts": "2024-01-01T00:00:00"} for c in ("c1", "c2")])
    q = run_merge_stream(spark, inp, tbl)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 2
    assert not [d for d in os.listdir(tbl) if d.startswith(f"{BUCKET_COL}=")]
    after = read_bucketed_snapshot(spark, tbl)
    assert after.schema == TRANSCRIPT_SCHEMA and after.count() == 0


def test_composed_streaming_job_end_to_end_kill_resume(spark, dirs, tmp_path):
    """The full composed streaming job (VERDICT r4 item 6): source ->
    per-turn extraction (run_stream) -> streaming exact-dedup of the
    extracted rows -> keyed CDC MERGE sink, with the event-time
    windowed aggregation running off the same source.  Each stage is
    individually pinned elsewhere; this drains the COMPOSITION in two
    phases (half the drop-files, every stage, then the rest — each
    stage resumes its own checkpoint exactly as a killed-and-restarted
    job would), additionally stops the dedup stage mid-drain and
    restarts it, and pins the final merged table equal to the batch
    extraction over the deduplicated corpus."""
    import time

    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructField, StringType

    from ocr_spark.maintenance import (
        merge_upsert_cow,
        read_bucketed_snapshot,
        write_bucketed_snapshot,
    )
    from ocr_spark.pipeline import EXTRACT_SCHEMA, extract_conversations
    from ocr_spark.streaming import (
        TRANSCRIPT_SCHEMA,
        read_transcript_stream,
        stream_turn_rate,
    )

    inp, out = dirs
    outA = os.path.join(out, "stageA")           # extracted
    outB = os.path.join(out, "stageB")           # deduped
    outC = os.path.join(out, "stageC")           # windowed agg
    table = os.path.join(out, "final_table")     # CDC MERGE target
    mrg_ckpt = os.path.join(out, "merge_ckpt")

    def conv(i):
        a = ["Akureyri is North of City 50337.", "4200 km",
             "i am not sure"][i % 3]
        return [
            {"conv_id": f"e{i:03d}", "turn_idx": 0, "role": "user",
             "text": f"From City 50337 to Akureyri, how far? ({i})",
             "tool": None, "ts": f"2024-01-01T{i % 3:02d}:{i:02d}:00"},
            {"conv_id": f"e{i:03d}", "turn_idx": 1, "role": "assistant",
             "text": a, "tool": None,
             "ts": f"2024-01-01T{i % 3:02d}:{i:02d}:01"},
        ]

    convs = [conv(i) for i in range(18)]

    # ---- stage plumbing ---------------------------------------------------
    fp = SF.md5(SF.concat_ws(
        "\x1f", "conv_id", SF.col("turn_idx").cast("string"), "role",
        SF.coalesce("clean_text", SF.lit("")),
    ))
    # StructType.add MUTATES self — build fresh copies, never .add on
    # the shared pipeline schema
    from pyspark.sql.types import StructType

    dedup_schema = StructType(
        list(EXTRACT_SCHEMA.fields) + [StructField("fp", StringType())])

    # seed the bucketed MERGE target: extraction schema + composite key
    key_schema = StructType(
        list(EXTRACT_SCHEMA.fields) + [StructField("_k", StringType())])
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), key_schema)
    write_bucketed_snapshot(spark, empty, table, key="_k")

    def drain_stage_b(kill_mid=False):
        def start():
            return (
                spark.readStream.schema(EXTRACT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(outA, "data"))
                .withColumn("fp", fp)
                .dropDuplicates(["fp"])
                .writeStream.format("parquet")
                .option("path", os.path.join(outB, "data"))
                .option("checkpointLocation", os.path.join(outB, "_ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        if kill_mid:
            # stop after the first committed micro-batch (best-effort:
            # if the drain wins the race the restart is a no-op and the
            # composition must STILL converge)
            for _ in range(200):
                if any(p["numInputRows"] > 0 for p in q.recentProgress):
                    break
                time.sleep(0.05)
            q.stop()
            q.awaitTermination()
            q = start()                      # resume from the checkpoint
        q.awaitTermination()

    def commit_merge(bdf, _bid):
        ch = (
            bdf.drop("fp")
            .withColumn("_k", SF.concat_ws(
                ":", "conv_id", SF.col("turn_idx").cast("string")))
            .withColumn("_deleted", SF.lit(False))
        )
        merge_upsert_cow(bdf.sparkSession, table, ch)

    def commit_window(bdf, _bid):
        bdf.write.mode("overwrite").parquet(os.path.join(outC, "data"))

    def drain_all(kill_mid=False):
        run_stream(spark, inp, outA)
        drain_stage_b(kill_mid=kill_mid)
        qd = (
            spark.readStream.schema(dedup_schema)
            .parquet(os.path.join(outB, "data"))
            .writeStream.foreachBatch(commit_merge)
            .option("checkpointLocation", mrg_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qd.awaitTermination()
        qc = (
            stream_turn_rate(
                read_transcript_stream(spark, inp)
                .filter(SF.col("ts").isNotNull())
            )
            .writeStream.foreachBatch(commit_window)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(outC, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qc.awaitTermination()

    # ---- phase 1: convs 0-8 ----------------------------------------------
    _write_jsonl(os.path.join(inp, "p1_turns.jsonl"),
                 [t for c in convs[:9] for t in c])
    drain_all()
    n_phase1 = read_bucketed_snapshot(spark, table).count()
    assert n_phase1 == 9 * 2

    # ---- phase 2: convs 9-17 PLUS byte-identical replays of 0-5 -----------
    replay = convs[:6]
    _write_jsonl(os.path.join(inp, "p2_turns.jsonl"),
                 [t for c in convs[9:] + replay for t in c])
    drain_all(kill_mid=True)

    # ---- final pins --------------------------------------------------------
    # (a) merged table == batch extraction over the DEDUPED corpus
    key = lambda r: (r["conv_id"], r["turn_idx"], r["role"],
                     r["clean_text"],
                     tuple((s["key"], s["start"], s["end"])
                           for s in (r["char_spans"] or [])),
                     r["block_class"], r["answer"], r["status"],
                     r["n_tokens"])
    got = sorted(map(key, read_bucketed_snapshot(spark, table).drop("_k").collect()))
    batch_in = spark.createDataFrame(
        [(t["conv_id"], t["turn_idx"], t["role"], t["text"], None, None)
         for c in convs for t in c],
        TRANSCRIPT_SCHEMA,
    )
    want = sorted(map(key, extract_conversations(batch_in).collect()))
    assert got == want and len(got) == 18 * 2

    # (b) the replayed conversations produced NO duplicate keys anywhere
    dup = (read_bucketed_snapshot(spark, table).groupBy("_k").count()
           .filter(SF.col("count") > 1).count())
    assert dup == 0

    # (c) windowed agg over both phases == batch windowed agg over all files
    got_w = sorted(
        (str(r["window_start"]), r["role"], r["n_turns"], r["total_chars"])
        for r in spark.read.parquet(os.path.join(outC, "data")).collect()
    )
    batch_w = (
        spark.read.schema(TRANSCRIPT_SCHEMA).json(inp)
        .filter(SF.col("ts").isNotNull())
        .groupBy(SF.window("ts", "1 hour").alias("w"), "role")
        .agg(SF.count("*").alias("n_turns"),
             SF.sum(SF.length("text")).alias("total_chars"))
    )
    want_w = sorted(
        (str(r["w"]["start"]), r["role"], r["n_turns"], r["total_chars"])
        for r in batch_w.collect()
    )
    assert got_w == want_w and len({w for (w, _, _, _) in got_w}) == 3
