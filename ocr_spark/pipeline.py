"""End-to-end transcript extraction pipeline (SURVEY.md §3, north_rule).

One extraction path over the canonical transcript table
``(conv_id, turn_idx, role, text, tool, ts)``: :func:`extract_turns`
(and the flagship :func:`extract_conversations`, which runs it) is a
scan, the native per-turn classify of :func:`classify_turns`
(contains / endswith / regexp_substr; mirrors of the kernels X8
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

import functools
from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernels import find_spans
from ocr_spark.kernels.extract import DIRECTION_WORDS, DISTANCE_SUFFIXES
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
    df: DataFrame, num_partitions: int, salt_mod: int = 16
) -> DataFrame:
    """Repartition by (conv_id, salt) to spread skewed conversations (north_rule).

    The salt is key-derived (``xxhash64(turn_idx)``), never random, so
    placement is deterministic under retries.  ``sortWithinPartitions``
    restores stable (conv_id, turn_idx) order within each partition.
    """
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_mod))
    return (
        df.repartition(num_partitions, F.col("conv_id"), salt)
        .sortWithinPartitions("conv_id", "turn_idx")
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
    spans, ntok = _extract_udfs(df.sparkSession.sparkContext, tuple(vocab or DEFAULT_VOCAB))
    c = classify_turns(df.select("conv_id", "turn_idx", "role", "text"))
    return c.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        F.col("text").alias("clean_text"),
        spans(F.col("text")).alias("char_spans"),
        "block_class",
        "answer",
        "status",
        ntok(F.col("text")).alias("n_tokens"),
    )


@functools.lru_cache(maxsize=8)
def _extract_udfs(sc, vocab: tuple):
    """The span and token UDFs of :func:`extract_turns`, built once per
    (SparkContext, vocab): a UDF pickles its function on first use, and
    every later plan reuses that pickle."""
    return span_udf(vocab), token_count_udf()


# ---------------------------------------------------------------------------
# native per-turn classify (no Python, no shuffle)
# ---------------------------------------------------------------------------

def classify_turns(df: DataFrame) -> DataFrame:
    """Per-turn block classification + answer extraction, JVM-only: the
    one Spark statement of kernels X8 (train_cities.py:69-95) and X2
    (utils.py:131-147).

    ``block_class`` and ``answer`` are one projection and ``status``
    reads those columns in a second, so each predicate runs once per
    turn (Spark keeps the projections apart because both columns are
    referenced twice).  ``answer`` is the first A-E of the bare turn
    text (assistant turns are the completion by construction), null
    when there is none.  The word lists are the X8 kernel's
    (``kernels.extract``).  Whole-stage-codegen friendly, zero shuffle.
    """
    text = F.col("text")
    is_assistant = F.col("role") == "assistant"
    has_dir = functools.reduce(
        lambda c, w: c | text.contains(w), DIRECTION_WORDS, F.lit(False))
    has_dist = functools.reduce(
        lambda c, sfx: c | text.endswith(sfx), DISTANCE_SUFFIXES, F.lit(False))
    block_class = (
        F.when(~is_assistant, F.lit("other"))
        .when(has_dir & ~has_dist, F.lit("direction"))
        .when(has_dist & ~has_dir, F.lit("distance"))
        .otherwise(F.lit("other"))
    )
    answer = F.when(is_assistant, F.regexp_substr(text, F.lit("[A-E]")))
    status = F.when(
        is_assistant & (F.col("block_class") == "other") & F.col("answer").isNull(),
        F.lit("fallback"),
    ).otherwise(F.lit("ok"))
    classified = df.select("*", block_class.alias("block_class"), answer.alias("answer"))
    return classified.select("*", status.alias("status"))


def _has_border(key: str) -> bool:
    """True when a proper prefix of ``key`` is also its suffix, so two
    occurrences can overlap (``aa`` twice in ``aaa``, ``aba`` in
    ``ababa``).  A key without one never overlaps itself, and its
    occurrences are exactly the separators of a left-to-right split."""
    return any(key[:n] == key[-n:] for n in range(1, len(key)))


def _re2_literal(key: str) -> str:
    """An RE2 pattern that matches exactly the text ``key``: ASCII
    letters and digits stand for themselves, every other code point is
    written ``\\x{hex}``, so no character of the key (``\\``, ``\\E``,
    ``|``, ``.``) can act as regex syntax."""
    return "".join(c if c.isascii() and c.isalnum() else f"\\x{{{ord(c):x}}}" for c in key)


def span_udf(vocab: Sequence[str]):
    """Arrow UDF: all vocab-key char spans per text (X6), in vocab order
    then occurrence order; a null text has no spans.

    Equal row for row to the per-key :func:`find_spans` loop, with no
    per-row Python for keys that cannot overlap themselves:

    - one RE2 alternation of the escaped keys (``match_substring_regex``)
      picks the rows holding any key;
    - a key with no proper border (checked here, once) is located by
      ``split_pattern`` over those rows: the j-th occurrence starts at
      the summed ``utf8_length`` of the pieces before it plus
      ``j * len(key)`` (code points, as Python's ``str.find`` counts);
    - a self-overlapping key (``aa``) runs :func:`find_spans` on the
      rows that contain it;
    - spans are ordered by (row, vocab index, start) with ``np.lexsort``
      and the ``list<struct>`` result is built from flat key/start/end
      arrays and int32 offsets.  The empty key has no spans.
    """
    vocab = list(vocab)
    keys = [(v, k) for v, k in enumerate(vocab) if k]
    split_keys = [(v, k) for v, k in keys if not _has_border(k)]
    scan_keys = [(v, k) for v, k in keys if _has_border(k)]
    prefilter = "|".join(dict.fromkeys(_re2_literal(k) for _, k in keys))
    key_names = pa.array(vocab, pa.string())
    key_lens = np.array([len(k) for k in vocab], dtype=np.int64)

    @F.arrow_udf(SPAN_TYPE)
    def _spans(texts: pa.Array) -> pa.Array:
        found = [np.zeros((3, 0), np.int64)]  # (row, vocab index, start) columns
        if prefilter:
            hit = pc.match_substring_regex(texts, prefilter).fill_null(False)
            hit_rows = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
            hits = texts.filter(hit)
            for v, k in split_keys:
                pieces = pc.split_pattern(hits, k)
                offs = pieces.offsets.to_numpy().astype(np.int64)
                width = pc.utf8_length(pieces.flatten()).to_numpy().astype(np.int64) + len(k)
                row = pc.list_parent_indices(pieces).to_numpy()
                # the occurrence after piece p of row r starts at
                # sum(width[offs[r]..p]) - len(k); a row's last piece has none
                run = np.cumsum(width)
                start = run - (run - width)[offs[:-1]][row] - len(k)
                occ = np.ones(len(width), dtype=bool)
                occ[offs[1:] - 1] = False
                found.append(np.stack([hit_rows[row[occ]], np.full(int(occ.sum()), v), start[occ]]))
            for v, k in scan_keys:
                has = pc.match_substring(hits, k)
                pairs = [(r, v, s)
                         for r, t in zip(hit_rows[has.to_numpy(zero_copy_only=False)],
                                         hits.filter(has).to_pylist())
                         for s, _ in find_spans(t, k)]
                found.append(np.array(pairs, np.int64).reshape(-1, 3).T)
        rows, vidx, starts = np.concatenate(found, axis=1)
        order = np.lexsort((starts, vidx, rows))
        vidx, starts = vidx[order], starts[order]
        spans = pa.StructArray.from_arrays(
            [key_names.take(pa.array(vidx)), pa.array(starts, pa.int32()),
             pa.array(starts + key_lens[vidx], pa.int32())],
            names=["key", "start", "end"],
        )
        offsets = np.zeros(len(texts) + 1, dtype=np.int32)
        np.cumsum(np.bincount(rows, minlength=len(texts)), out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), spans)

    return _spans


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
