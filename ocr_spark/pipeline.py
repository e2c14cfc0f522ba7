"""End-to-end transcript extraction pipeline (SURVEY.md §3, north_rule).

One extraction path over the canonical transcript table
``(conv_id, turn_idx, role, text, tool, ts)``: :func:`extract_turns`
(and the flagship :func:`extract_conversations`, which runs it) is a
scan, the native per-turn classify of :func:`classify_turns`
(contains / endswith / regexp_extract; mirrors of the kernels X8
train_cities.py:69-95 and X2 utils.py:131-147), and ONE
``ArrowEvalPython`` stage that evaluates the span (X6,
utils.py:160-196) and token-count (X13) Arrow UDFs, then the sink.
No conv_id shuffle: every output column is per-turn, so conversation
assembly is never needed.  The one conversation-level predicate of the
reference render split, "the completion exists", holds on every
assistant row, the only rows that read it; the pure render and split
kernels stay byte-pinned by their golden tests and the X3/X4 catalog
queries.

Skew: with ``num_partitions``, :func:`salted_repartition` spreads giant
conversations across ``salt_mod`` sub-partitions while
``sortWithinPartitions`` keeps turn order stable within each salted
group (north_rule "salted keys for skewed long conversations").
Per-turn extraction is salting-safe.  :func:`conversations` and
:func:`oversized_conv_ids` are the turn-index-chunked assembly and the
turn-count pre-pass of the retired render path; the flagship runs
neither, and the benchmark's traced render layers still time them.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernels import find_spans, get_fn_names
from ocr_spark.synth import CITY_IDS, FN_NAMES

#: Default vocabulary for span marking: the 5 city codenames
#: (utils.py:321-327) + function codenames (utils.py:25-45 subset).
DEFAULT_VOCAB = [f"City {c}" for c in CITY_IDS] + list(FN_NAMES)

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("key", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("clean_text", StringType()),
        StructField("char_spans", SPAN_TYPE),
        StructField("block_class", StringType()),
        StructField("answer", StringType()),
        StructField("status", StringType()),
        StructField("n_tokens", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# conversation assembly (retired render path; benchmark layers only)
# ---------------------------------------------------------------------------

#: Render-path row bound: :func:`conversations` assembles longer
#: conversations in chunks of this many turns.  Lineage counts the
#: conversations over it (``BucketStats.n_rerouted``).
MAX_RENDER_TURNS = 65536


def conversations(df: DataFrame, max_turns: int = MAX_RENDER_TURNS) -> DataFrame:
    """Aggregate turns into ordered rows of at most ``max_turns`` turns.

    Groups by ``(conv_id, floor(turn_idx / max_turns))``: a conversation
    of up to ``max_turns`` turns (numbered from 0) is one row, a longer
    one is split into turn-index chunks, so no row exceeds the cap
    unless ``(conv_id, turn_idx)`` repeats.

    ``sort_array`` on ``struct(turn_idx, role, text)`` sorts by the
    leading ``turn_idx`` field JVM-side — stable turn ordering (W1)
    with no Python and no window shuffle beyond the single groupBy.
    The struct fields are then unzipped into three parallel primitive
    arrays: Arrow moves ``array<string>`` into pandas as flat string
    lists, several times cheaper than materializing one Python dict
    per turn from an ``array<struct>`` column.
    """
    turns = F.sort_array(F.collect_list(F.struct("turn_idx", "role", "text")))
    return (
        df.groupBy("conv_id", F.floor(F.col("turn_idx") / max_turns))
        .agg(turns.alias("turns"))
        .select(
            "conv_id",
            F.col("turns.turn_idx").alias("turn_idxs"),
            F.col("turns.role").alias("roles"),
            F.col("turns.text").alias("texts"),
        )
    )


def oversized_conv_ids(df: DataFrame, max_turns: int = MAX_RENDER_TURNS) -> DataFrame:
    """conv_ids of conversations over ``max_turns`` turns.

    Projects ONLY conv_id (columnar scan of a dictionary-encoded column;
    partial counts map-side).  The flagship does not run it.
    """
    counts = df.select("conv_id").groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    return counts.filter(F.col("n_turns") > max_turns).select("conv_id")


# ---------------------------------------------------------------------------
# the extraction path (zero shuffle)
# ---------------------------------------------------------------------------

def salted_repartition(
    df: DataFrame, num_partitions: int, key: str = "conv_id", salt_mod: int = 16
) -> DataFrame:
    """Repartition by (key, salt) to spread skewed keys (north_rule).

    The salt is key-derived (``xxhash64(turn_idx)``), never random, so
    placement is deterministic under retries.  ``sortWithinPartitions``
    restores stable (conv_id, turn_idx) order within each partition.
    """
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_mod))
    return (
        df.repartition(num_partitions, F.col(key), salt)
        .sortWithinPartitions(key, "turn_idx")
    )


def extract_conversations(
    df: DataFrame, vocab: Sequence[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The flagship extraction job: :func:`extract_turns` over ``df``.

    With ``num_partitions`` the turns are first spread by
    :func:`salted_repartition` (the north_rule ordering step, one
    exchange); without it the plan is one scan, the native classify and
    one ``ArrowEvalPython`` stage, with no shuffle.  Output rows are the
    same either way.
    """
    base = df.select("conv_id", "turn_idx", "role", "text")
    if num_partitions:
        base = salted_repartition(base, num_partitions)
    return extract_turns(base, vocab)


def extract_turns(df: DataFrame, vocab: Sequence[str] | None = None) -> DataFrame:
    """Per-turn extraction (EXTRACT_SCHEMA), the one implementation.

    Native classify (X8/X2, :func:`classify_turns`) plus the span and
    token-count Arrow UDFs, which Spark evaluates in one
    ``ArrowEvalPython`` stage; zero shuffle.  It runs behind
    :func:`extract_conversations`, the streaming path
    (streaming.run_stream) and the checkpointed batch path (lineage).
    """
    vocab = list(vocab or DEFAULT_VOCAB)
    c = classify_turns(df.select("conv_id", "turn_idx", "role", "text"))
    return c.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        F.col("text").alias("clean_text"),
        span_udf(vocab)(F.col("text")).alias("char_spans"),
        "block_class",
        "answer",
        "status",
        token_count_udf()(F.col("text")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# native per-turn classify (no Python, no shuffle)
# ---------------------------------------------------------------------------

DIRECTION_WORDS = [" North", " South", " East", " West"]
DISTANCE_SUFFIXES = ["km", "ilometers", "mi", "iles"]


def direction_flag(text: Column) -> Column:
    c = F.lit(False)
    for w in DIRECTION_WORDS:
        c = c | text.contains(w)
    return c


def distance_flag(text: Column) -> Column:
    c = F.lit(False)
    for sfx in DISTANCE_SUFFIXES:
        c = c | text.endswith(sfx)
    return c


def classify_turns(df: DataFrame) -> DataFrame:
    """Per-turn block classification + answer extraction, JVM-only.

    Native-expression mirror of kernels X8 (train_cities.py:69-95) and
    X2 (utils.py:131-147): whole-stage-codegen friendly, zero shuffle,
    scales linearly with input splits.  ``answer`` uses the
    first-A-E-after-anything semantics applied to the bare turn text
    (assistant turns are the completion by construction).
    """
    is_assistant = F.col("role") == "assistant"
    has_dir = direction_flag(F.col("text"))
    has_dist = distance_flag(F.col("text"))
    block_class = (
        F.when(~is_assistant, F.lit("other"))
        .when(has_dir & ~has_dist, F.lit("direction"))
        .when(has_dist & ~has_dir, F.lit("distance"))
        .otherwise(F.lit("other"))
    )
    answer = F.when(
        is_assistant, F.nullif(F.regexp_extract(F.col("text"), "([A-E])", 1), F.lit(""))
    ).otherwise(F.lit(None).cast("string"))
    status = F.when(
        is_assistant & (block_class == "other") & answer.isNull(), F.lit("fallback")
    ).otherwise(F.lit("ok"))
    return (
        df.withColumn("block_class", block_class)
        .withColumn("answer", answer)
        .withColumn("status", status)
    )


def span_udf(vocab: Sequence[str]):
    """Arrow UDF: all vocab-key char spans per text (X6), in vocab order
    then occurrence order; a null text has no spans.

    One ``match_substring`` per key, OR-ed, pre-filters the rows in
    Arrow's C++ kernels (literal matches, so exactly Python's
    ``k in t``); only hit rows pay the per-key :func:`find_spans`
    Python, since vocab keys are rare.  The ``list<struct>`` result is
    built from flat key/start/end arrays and int32 offsets, with no
    per-span Python object and no pandas.
    """
    vocab = list(vocab)

    @F.arrow_udf(SPAN_TYPE)
    def _spans(texts: pa.Array) -> pa.Array:
        import numpy as np

        hit = pa.array(np.zeros(len(texts), dtype=bool))
        for k in vocab:
            hit = pc.or_(hit, pc.match_substring(texts, k))
        hit = hit.fill_null(False)
        keys: list = []
        starts: list = []
        ends: list = []
        counts = np.zeros(len(texts) + 1, dtype=np.int32)
        rows = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
        for i, t in zip(rows, texts.filter(hit).to_pylist()):
            n0 = len(keys)
            for k in vocab:
                if k in t:
                    for s, e in find_spans(t, k):
                        keys.append(k)
                        starts.append(s)
                        ends.append(e)
            counts[i + 1] = len(keys) - n0
        spans = pa.StructArray.from_arrays(
            [pa.array(keys, pa.string()), pa.array(starts, pa.int32()),
             pa.array(ends, pa.int32())],
            names=["key", "start", "end"],
        )
        return pa.ListArray.from_arrays(pa.array(np.cumsum(counts, dtype=np.int32)), spans)

    return _spans


def fn_names_udf():
    """Vectorized pandas UDF for the import parser (X1, utils.py:53-61)."""

    @F.pandas_udf(ArrayType(StringType()))
    def _fns(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: get_fn_names(t) if t is not None else [])

    return _fns


def token_count_udf():
    """Arrow UDF: deterministic token count per text (X13); a null text
    counts 0.

    ``len(tok.encode(t)) == count_tokens(t) == len(_PIECE_RE.findall(t))``
    by construction (tokenizer.py count_tokens), and
    ``count_pieces_batch`` computes the same count with a vectorized
    numpy char-class pass (~3x the regex; equivalence fuzz-pinned) —
    no per-row encode, no id hashing, no pandas.  Keep
    ``DeterministicTokenizer.encode`` for paths that need actual ids.
    """
    from ocr_spark.kernels.tokenizer import count_pieces_batch

    @F.arrow_udf(IntegerType())
    def _ntok(texts: pa.Array) -> pa.Array:
        return pa.array(count_pieces_batch(texts.to_numpy(zero_copy_only=False)), pa.int32())

    return _ntok
