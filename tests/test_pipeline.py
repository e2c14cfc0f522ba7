"""Per-turn text-equality gate (BASELINE.json / FIXTURES.md F6).

The Spark extraction pipeline's output must equal, row for row on the
(conv_id, turn_idx) key, the expected table computed by driving the
pure-Python kernels directly over the same input — and must be
identical at different partition counts (determinism under
parallelism, SURVEY.md §5).
"""

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ocr_spark.kernels import (
    classify_completion,
    extract_answer,
    find_spans,
    merge_system_turn,
    render_chat_template,
    split_completion,
    DeterministicTokenizer,
)
from ocr_spark.pipeline import DEFAULT_VOCAB, extract_conversations, extract_turns
from ocr_spark.synth import transcripts

N_CONVS = 150


def _golden_rows(turn_rows):
    """Reference-semantics oracle: plain Python over collected turns."""
    tok = DeterministicTokenizer()
    by_conv: dict[str, list] = {}
    for r in turn_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    out = []
    for conv_id, rows in by_conv.items():
        rows = sorted(rows, key=lambda r: r["turn_idx"])
        messages, sys_text = [], None
        for r in rows:
            if r["role"] == "system" and sys_text is None and not messages:
                sys_text = r["text"]
                continue
            if r["role"] == "user" and sys_text is not None:
                messages.append({"role": "user", "content": merge_system_turn(sys_text, r["text"])})
                sys_text = None
            else:
                messages.append({"role": r["role"], "content": r["text"]})
        rendered = render_chat_template(messages)
        split = split_completion(rendered)
        for r in rows:
            spans = tuple(
                (k, s, e)
                for k in DEFAULT_VOCAB
                if k in r["text"]
                for (s, e) in find_spans(r["text"], k)
            )
            block_class, answer, status = "other", None, "ok"
            if r["role"] == "assistant":
                if split is None:
                    status = "fallback"
                else:
                    block_class, ok = classify_completion(r["text"] + "<end_of_turn>\n")
                    answer = extract_answer("<start_of_turn>model\n" + r["text"])
                    if not ok and answer is None:
                        status = "fallback"
            out.append(
                (conv_id, r["turn_idx"], r["role"], r["text"], spans,
                 block_class, answer, status, len(tok.encode(r["text"])))
            )
    return sorted(out)


def _spark_rows(df):
    rows = []
    for r in df.collect():
        spans = tuple((s["key"], s["start"], s["end"]) for s in r["char_spans"])
        rows.append(
            (r["conv_id"], r["turn_idx"], r["role"], r["clean_text"], spans,
             r["block_class"], r["answer"], r["status"], r["n_tokens"])
        )
    return sorted(rows)


@pytest.fixture(scope="module")
def input_rows(spark):
    df = transcripts(spark, N_CONVS, seed=42)
    return [r.asDict() for r in df.collect()]


@pytest.mark.parametrize("extract", [extract_conversations, extract_turns],
                         ids=lambda f: f.__name__)
def test_per_turn_text_equality(spark, input_rows, extract):
    """Both extraction paths == pure-kernel oracle, byte-for-byte."""
    golden = _golden_rows(input_rows)
    df = extract(transcripts(spark, N_CONVS, seed=42))
    got = _spark_rows(df)
    assert len(got) == len(golden)
    for g, o in zip(got, golden):
        assert g == o, f"mismatch:\n spark={g}\n golden={o}"


def test_newline_terminated_distance_matches_kernel(spark):
    """'500 km\\n' must NOT classify as distance: the kernel's
    endswith() sees the trailing newline, and so must the native
    endswith() of classify_turns — a regex anchored with Python-re $
    would also match just before a trailing newline and silently
    diverge from the golden kernel."""
    rows = [
        ("nl0", 0, "user", "From City 50337 to Akureyri, how far?"),
        ("nl0", 1, "assistant", "500 km\n"),
        ("nl1", 0, "user", "how far?"),
        ("nl1", 1, "assistant", "500 km"),
        ("nl2", 0, "user", "which way?"),
        ("nl2", 1, "assistant", "It is North of here\n"),
    ]
    t = spark.createDataFrame(
        [(c, i, r, x, None, None) for (c, i, r, x) in rows],
        schema="conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    )
    golden = _golden_rows([r.asDict() for r in t.collect()])
    got = _spark_rows(extract_conversations(t))
    assert got == golden
    by_id = {(r[0], r[1]): r for r in got}
    assert by_id[("nl0", 1)][5] == "other"      # \n breaks endswith('km')
    assert by_id[("nl0", 1)][7] == "fallback"
    assert by_id[("nl1", 1)][5] == "distance"
    assert by_id[("nl2", 1)][5] == "direction"  # contains() unaffected by \n


def test_partition_count_invariance(spark):
    """Identical output at 2 vs 16 partitions (SURVEY.md §5 determinism)."""
    t = transcripts(spark, N_CONVS, seed=42)
    a = _spark_rows(extract_conversations(t, num_partitions=2))
    b = _spark_rows(extract_conversations(t, num_partitions=16))
    assert a == b


def test_clean_text_equals_input_turn_text(spark):
    """Main-content extraction strips exactly the template wrapper: for
    valid conversations clean_text must byte-equal the original turn
    payload (the per-turn equality contract)."""
    t = transcripts(spark, N_CONVS, seed=42)
    ex = extract_conversations(t)
    joined = ex.alias("e").join(
        t.alias("t"), on=["conv_id", "turn_idx"], how="inner"
    )
    n_diff = joined.filter(F.col("e.clean_text") != F.col("t.text")).count()
    assert n_diff == 0
    assert ex.count() == t.count()


def test_fallback_counters_present(spark):
    """The synthetic corpus plants extractor-miss rows (FIXTURES F1);
    they must surface as status='fallback', never as job failures."""
    t = transcripts(spark, 300, seed=42)
    ex = extract_conversations(t)
    counts = {r["status"]: r["cnt"] for r in
              ex.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert counts.get("fallback", 0) > 0
    assert counts["ok"] > counts.get("fallback", 0)


def test_salted_repartition_spreads_giant_conversations(spark):
    """north_rule skew handling: a 500+-turn conversation's rows land on
    several salted partitions instead of stalling one task, placement is
    key-derived (stable under re-runs), and per-turn extraction output
    is unchanged by salting."""
    from ocr_spark.pipeline import classify_turns, salted_repartition

    t = transcripts(spark, 400, seed=42)  # skew on: ~1% giant convs
    giant = (
        t.groupBy("conv_id").count().filter(F.col("count") >= 500)
        .select("conv_id").limit(1).collect()
    )
    assert giant, "synthetic skew knob should plant a giant conversation"
    giant_id = giant[0]["conv_id"]

    salted = salted_repartition(t, num_partitions=16, salt_mod=8)
    spread = (
        salted.filter(F.col("conv_id") == giant_id)
        .select(F.spark_partition_id().alias("pid"))
        .distinct().count()
    )
    assert spread > 1, "giant conversation should span multiple partitions"

    # placement is deterministic: same partition ids on a second run
    a = sorted(
        (r["conv_id"], r["turn_idx"], r["pid"])
        for r in salted.select("conv_id", "turn_idx",
                               F.spark_partition_id().alias("pid")).collect()
    )
    b = sorted(
        (r["conv_id"], r["turn_idx"], r["pid"])
        for r in salted_repartition(t, num_partitions=16, salt_mod=8)
        .select("conv_id", "turn_idx", F.spark_partition_id().alias("pid")).collect()
    )
    assert a == b

    # per-turn extraction is salting-invariant
    plain = sorted(
        (r["conv_id"], r["turn_idx"], r["block_class"], r["status"])
        for r in classify_turns(t).collect()
    )
    over_salted = sorted(
        (r["conv_id"], r["turn_idx"], r["block_class"], r["status"])
        for r in classify_turns(salted).collect()
    )
    assert plain == over_salted


def test_giant_conversation_reroute(spark):
    """Long-conversation skew (VERDICT r3 #2, north_rule): a
    10^5-turn conversation needs no special handling on the zero-shuffle
    flagship, which emits one row per input turn; the retired render
    path's helpers still find it (turn-count pre-pass) and bound it
    (turn-index chunked assembly)."""
    from ocr_spark.pipeline import conversations, oversized_conv_ids

    t = transcripts(spark, 60, seed=7).select("conv_id", "turn_idx", "role", "text")
    i = F.col("id")
    payload = (
        F.when(i % 7 == 0, F.concat(F.lit("Paris is North of City 50337, turn "),
                                    i.cast("string")))
        .when(i % 7 == 1, F.concat((i % 90 * 100).cast("string"), F.lit(" km")))
        .when(i % 7 == 2, F.lit("the best option is B"))
        .when(i % 7 == 3, F.lit("from functions import couhpa\nx = couhpa(3)"))
        .when(i % 7 == 4, F.lit("i am not sure"))
        .otherwise(F.concat(F.lit("plain turn payload "), i.cast("string")))
    )
    big = spark.range(100_000).select(
        F.lit("convgiant0").alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.when(i == 0, F.lit("system"))
        .when(i % 2 == 1, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        payload.alias("text"),
    )
    allt = t.unionByName(big)

    # the conv_id-only pre-pass finds exactly the giant conversation
    over = {r["conv_id"] for r in
            oversized_conv_ids(allt, max_turns=1000).collect()}
    assert over == {"convgiant0"}

    # chunked assembly: no row over the cap; the giant spans 100 rows
    chunks = conversations(allt, 1000)
    assert chunks.agg(F.max(F.size("turn_idxs"))).first()[0] <= 1000
    assert chunks.filter(F.col("conv_id") == "convgiant0").count() == 100

    assert extract_conversations(allt).count() == allt.count()


# ---------------------------------------------------------------------------
# Arrow UDF equivalence fuzz: each UDF's function against its kernel
# ---------------------------------------------------------------------------

#: overlapping / adjacent keys, multi-byte (é, 中) and astral (😀, 𝔸)
#: neighbours, and key fragments that must not count as hits
_FUZZ_PIECES = ["City 50337", "City 5033", "City ", "couhpa", "aa", "a", "é", "中",
                "😀", "𝔸", " ", "\n", "<end_of_turn>", "North", "x"]
_fuzz_text = st.lists(st.sampled_from(_FUZZ_PIECES), max_size=12).map("".join) | st.text(
    max_size=40)
_fuzz_vocab = st.lists(
    st.sampled_from(DEFAULT_VOCAB) | st.sampled_from(["aa", "a", "é中", "😀a", "City 5033"]),
    min_size=1, max_size=8, unique=True,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.none() | _fuzz_text, max_size=16), _fuzz_vocab)
def test_span_udf_equals_find_spans(texts, vocab):
    """The Arrow span UDF == the per-key find_spans loop, row for row:
    vocab order then occurrence order, overlaps included, null -> []."""
    from ocr_spark.pipeline import span_udf

    got = span_udf(vocab).func(pa.array(texts, pa.string())).to_pylist()
    want = [
        [] if t is None else
        [{"key": k, "start": s, "end": e}
         for k in vocab if k in t for (s, e) in find_spans(t, k)]
        for t in texts
    ]
    assert got == want


@settings(max_examples=300, deadline=None)
@given(st.lists(st.none() | _fuzz_text, max_size=16))
def test_token_count_udf_equals_count_tokens(texts):
    """The Arrow token UDF == DeterministicTokenizer.count_tokens per
    row (specials and astral code points included); null -> 0."""
    from ocr_spark.pipeline import token_count_udf

    tok = DeterministicTokenizer()
    got = token_count_udf().func(pa.array(texts, pa.string()))
    assert got.type == pa.int32()
    assert got.to_pylist() == [0 if t is None else tok.count_tokens(t) for t in texts]
