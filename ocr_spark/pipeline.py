"""End-to-end transcript extraction pipeline (SURVEY.md §3, north_rule).

Two execution paths over the canonical transcript table
``(conv_id, turn_idx, role, text, tool, ts)``:

1. :func:`extract_conversations` — the conversation-render path.
   One shuffle (``groupBy(conv_id, turn-index chunk)`` with a JVM-side
   ``sort_array(collect_list(struct(...)))`` so turn order is stable
   regardless of input partitioning), then a single Arrow-batched
   ``mapInPandas`` that runs the pure kernels: merge system turn
   (utils.py:72-74) → gemma render (train_cities.py:44-48) → marker
   split (train_cities.py:51-57) → block classification
   (train_cities.py:69-95) → answer extraction (utils.py:131-147) →
   char-span location (utils.py:160-196).  Emits one row per input
   turn plus per-turn status (ok / fallback) for lineage counters.

2. :func:`classify_turns` — the per-turn scale path: pure native
   column expressions (contains / endswith / regexp_extract), no
   Python at all, zero shuffles.  This is what survives 10^12 turns:
   per-turn semantics never require conversation assembly.

Skew: :func:`salted_repartition` spreads giant conversations across
``salt_mod`` sub-partitions while ``sortWithinPartitions`` keeps turn
order stable within each salted group (north_rule "salted keys for
skewed long conversations").  Per-turn extraction is salting-safe.
The render path bounds its ``collect_list`` rows by construction:
:func:`conversations` groups by ``(conv_id, floor(turn_idx /
max_turns))``, so a giant conversation crosses the shuffle as bounded
chunks and no pre-pass has to find it first (heavy-key splitting).
Chunking leaves the output rows unchanged because every kernel column
is per-turn: the one conversation-level predicate of the render split,
"the completion exists", is read only on assistant rows, and an
assistant row's chunk contains that assistant turn.  The kernel
hard-fails on a row over ``max_turns`` turns, which only a duplicated
``(conv_id, turn_idx)`` can produce.  The optional ``max_bytes`` guard
finds byte-heavy conversations with a pre-pass and routes them to
:func:`extract_turns`, the row-identical zero-shuffle mirror.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernels import (
    DeterministicTokenizer,
    find_spans,
    get_fn_names,
)
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
# conversation assembly (the one shuffle)
# ---------------------------------------------------------------------------

#: Render-path row bound: :func:`conversations` assembles longer
#: conversations in chunks of this many turns (north_rule "salted keys
#: for skewed long conversations").  2^16 turns x ~100 B/turn keeps an
#: assembled row well under 10 MB.
MAX_RENDER_TURNS = 65536


def conversations(df: DataFrame, max_turns: int | None = MAX_RENDER_TURNS) -> DataFrame:
    """Aggregate turns into ordered rows of at most ``max_turns`` turns.

    Groups by ``(conv_id, floor(turn_idx / max_turns))``: a conversation
    of up to ``max_turns`` turns (numbered from 0) is one row, a longer
    one is split into turn-index chunks, so no row exceeds the cap
    unless ``(conv_id, turn_idx)`` repeats.  ``max_turns=None`` keeps
    one row per conversation.

    ``sort_array`` on ``struct(turn_idx, role, text)`` sorts by the
    leading ``turn_idx`` field JVM-side — stable turn ordering (W1)
    with no Python and no window shuffle beyond the single groupBy.
    The struct fields are then unzipped into three parallel primitive
    arrays: Arrow moves ``array<string>`` into pandas as flat string
    lists, several times cheaper than materializing one Python dict
    per turn from an ``array<struct>`` column.
    """
    keys = [F.col("conv_id")]
    if max_turns is not None:
        keys.append(F.floor(F.col("turn_idx") / max_turns))
    turns = F.sort_array(F.collect_list(F.struct("turn_idx", "role", "text")))
    return (
        df.groupBy(*keys)
        .agg(turns.alias("turns"))
        .select(
            "conv_id",
            F.col("turns.turn_idx").alias("turn_idxs"),
            F.col("turns.role").alias("roles"),
            F.col("turns.text").alias("texts"),
        )
    )


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


# ---------------------------------------------------------------------------
# path 1: conversation render path (mapInPandas over assembled convs)
# ---------------------------------------------------------------------------

#: Vectorized forms of the kernel predicates.  These are the SAME
#: semantics as classify_completion / extract_answer / count_tokens —
#: pinned against the pure kernels by tests/test_pipeline.py's golden
#: oracle — expressed as regexes so the batch runs through pandas'
#: C string engine instead of a per-turn Python loop:
#: - classify_completion(text + "<end_of_turn>\n") strips the marker it
#:   was handed, so has_direction/has_distance test the bare turn text;
#: - extract_answer("<start_of_turn>model\n" + text) always finds the
#:   tag at offset 0, so it reduces to "first A-E character of text".
_DIR_RE = " North| South| East| West"
#: \Z, not $: Python-re $ also matches just before a trailing newline,
#: which would diverge from the kernel's endswith() on "500 km\n"
#: (classify_completion -> ('other', fallback); $ would say 'distance').
_DIST_RE = r"(?:km|ilometers|mi|iles)\Z"
_ANSWER_RE = r"([A-E])"


def oversized_conv_ids(
    df: DataFrame, max_turns: int | None = MAX_RENDER_TURNS,
    max_bytes: int | None = None,
) -> DataFrame:
    """conv_ids of conversations over ``max_turns`` turns or
    ``max_bytes`` total text bytes.

    :func:`extract_conversations` runs it for ``max_bytes`` only: its
    turn bound holds by chunked assembly.  The turn-count form projects
    ONLY conv_id (columnar scan of a dictionary-encoded column; partial
    counts map-side); ``max_bytes`` forces it to read the text column.
    """
    aggs = [F.count("*").alias("n_turns")]
    if max_bytes is not None:
        aggs.append(F.sum(F.length("text")).alias("n_bytes"))
        counts = df.select("conv_id", "text").groupBy("conv_id").agg(*aggs)
    else:
        counts = df.select("conv_id").groupBy("conv_id").agg(*aggs)
    cond = F.lit(False)
    if max_turns is not None:
        cond = cond | (F.col("n_turns") > max_turns)
    if max_bytes is not None:
        cond = cond | (F.col("n_bytes") > max_bytes)
    return counts.filter(cond).select("conv_id")


def _extract_batches(
    batches: Iterator[pd.DataFrame], vocab: Sequence[str],
    max_turns: int | None = None,
) -> Iterator[pd.DataFrame]:
    """Kernel driver for one Arrow batch stream (one task).

    Fully vectorized: the batch's conversations are flattened to one
    turn-level frame and every predicate runs as a pandas str op; the
    only remaining per-row Python is span materialization, and only on
    the rows a vectorized contains() pre-filter selects.
    """
    import numpy as np

    from ocr_spark.kernels.tokenizer import count_pieces_batch

    spans_of = _span_finder(vocab)

    for pdf in batches:
        lens = np.fromiter((len(x) for x in pdf["turn_idxs"]), dtype=np.int64,
                           count=len(pdf))
        if max_turns is not None and len(lens) and int(lens.max()) > max_turns:
            raise RuntimeError(
                f"assembled row of {int(lens.max())} turns exceeds the cap "
                f"{max_turns}: turn-index chunks hold at most {max_turns} "
                "distinct turns, so the input repeats a (conv_id, turn_idx)"
            )
        n = int(lens.sum())
        if n == 0:
            yield pd.DataFrame({f.name: [] for f in EXTRACT_SCHEMA.fields})
            continue

        conv_rep = np.repeat(pdf["conv_id"].to_numpy(), lens)
        tidx = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["turn_idxs"]])
        # Arrow hands list columns over as object arrays of ndarrays —
        # one np.concatenate is pointer copies in C, vs a Python-level
        # loop touching every turn
        roles = pd.Series(np.concatenate(pdf["roles"].to_numpy()), dtype=object)
        texts = pd.Series(np.concatenate(pdf["texts"].to_numpy()), dtype=object)
        tex_np = texts.to_numpy()
        is_assistant = roles.eq("assistant").to_numpy()

        # X3/X4 equivalence without materializing the render: the split
        # completion exists whenever the conversation has an assistant
        # turn, so it is read only on assistant rows, where it holds
        # (the render/split kernels stay byte-pinned by their own golden
        # tests and the x3/x4 catalog queries).  The classification and
        # extraction regexes run on the assistant subset; scatter back.
        asst_idx = np.nonzero(is_assistant)[0]
        at = texts.iloc[asst_idx]
        has_dir = np.zeros(n, dtype=bool)
        has_dir[asst_idx] = at.str.contains(_DIR_RE, regex=True).to_numpy()
        has_dist = np.zeros(n, dtype=bool)
        has_dist[asst_idx] = at.str.contains(_DIST_RE, regex=True).to_numpy()
        xor = has_dir ^ has_dist

        block_class = np.where(
            is_assistant & xor & has_dir, "direction",
            np.where(is_assistant & xor & has_dist, "distance", "other"),
        )
        ans = at.str.extract(_ANSWER_RE, expand=False)
        answer = np.full(n, None, dtype=object)
        answer[asst_idx] = ans.astype(object).where(ans.notna(), None).to_numpy()
        no_answer = np.full(n, True, dtype=bool)
        no_answer[asst_idx] = ans.isna().to_numpy()
        status = np.where(is_assistant & ~xor & no_answer, "fallback", "ok")
        n_tokens = np.asarray(count_pieces_batch(tex_np)).astype("int32")

        spans = spans_of(texts)

        yield pd.DataFrame(
            {
                "conv_id": conv_rep,
                "turn_idx": tidx.astype("int32"),
                "role": roles,
                "clean_text": texts,
                "char_spans": spans,
                "block_class": block_class,
                "answer": answer,
                "status": status,
                "n_tokens": n_tokens,
            }
        )


def _render_extract(
    base: DataFrame, vocab: list, num_partitions: int | None,
    max_turns: int | None,
) -> DataFrame:
    convs = conversations(base, max_turns)
    if num_partitions:
        convs = convs.repartition(num_partitions, "conv_id")
    return convs.mapInPandas(
        lambda it: _extract_batches(it, vocab, max_turns), schema=EXTRACT_SCHEMA
    )


def extract_conversations(
    df: DataFrame, vocab: Sequence[str] | None = None,
    num_partitions: int | None = None,
    max_turns: int | None = MAX_RENDER_TURNS,
    max_bytes: int | None = None,
    routed_isin_cap: int = 1024,
    stats_out: dict | None = None,
) -> DataFrame:
    """The flagship extraction job (render path).  See module docstring.

    With the default arguments this is one scan, one hash exchange and
    the ``mapInPandas`` kernel: :func:`conversations` assembles rows of
    at most ``max_turns`` turns, so a giant conversation is rendered in
    turn-index chunks with no pre-pass; output rows are identical to
    whole-conversation assembly (``max_turns=None``).

    ``max_bytes`` (off by default) also routes conversations over that
    many total text bytes to the per-turn mirror :func:`extract_turns`.
    It needs a pre-pass over the text column, resolved with a BOUNDED
    driver collect (``limit(routed_isin_cap + 1)``): no heavy
    conversation -> the plain render plan; <= ``routed_isin_cap`` ->
    two scan-level ``isin`` filters, pushed to the parquet reader; more
    -> a broadcast anti/semi join pair.  ``stats_out``: pass a dict to
    receive ``n_rerouted``, the number of byte-rerouted conversations
    (0 without ``max_bytes``).
    """
    vocab = list(vocab or DEFAULT_VOCAB)
    base = df.select("conv_id", "turn_idx", "role", "text")
    if stats_out is not None:
        stats_out["n_rerouted"] = 0
    if max_bytes is None:
        return _render_extract(base, vocab, num_partitions, max_turns)
    big = oversized_conv_ids(base, None, max_bytes)
    big_ids = [r["conv_id"] for r in big.limit(routed_isin_cap + 1).collect()]
    if not big_ids:
        return _render_extract(base, vocab, num_partitions, max_turns)
    if len(big_ids) <= routed_isin_cap:
        if stats_out is not None:
            stats_out["n_rerouted"] = len(big_ids)
        regular = base.filter(~F.col("conv_id").isin(big_ids))
        routed = base.filter(F.col("conv_id").isin(big_ids))
    else:
        if stats_out is not None:
            # adversarial case only: the bounded collect saw > cap ids,
            # so one count job resolves the exact number
            stats_out["n_rerouted"] = big.count()
        regular = base.join(F.broadcast(big), "conv_id", "left_anti")
        routed = base.join(F.broadcast(big), "conv_id", "left_semi")
    return _render_extract(regular, vocab, num_partitions, max_turns).unionByName(
        extract_turns(routed, vocab)
    )


def extract_turns(df: DataFrame, vocab: Sequence[str] | None = None) -> DataFrame:
    """Per-turn mirror of the render path's output (EXTRACT_SCHEMA).

    Native classify (X8/X2, zero shuffle) + the vectorized span and
    token-count pandas UDFs.  Row-identical to the render path for any
    input (see module docstring): this is the 10^12-turn scale path,
    the streaming path (streaming.run_stream) and the reroute target
    for byte-heavy conversations (``max_bytes``).
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
# path 2: per-turn native scale path (no Python, no shuffle)
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


def _span_finder(vocab: Sequence[str]):
    """Span materialization shared by both extraction paths (X6).

    Returns ``spans_of(texts)``: for each text, every vocab-key char
    span, in vocab order then occurrence order.  ONE combined-
    alternation ``str.contains`` scan pre-filters the rows (instead of
    one pass per vocab key), and only hit rows pay the per-key
    find_spans Python — vocab keys are rare, so the hot loop stays in
    pandas' C engine.  Null texts have no spans.
    """
    import re as _re

    vocab = list(vocab)
    vocab_re = _re.compile("|".join(_re.escape(k) for k in vocab))

    def spans_of(texts: pd.Series) -> list:
        import numpy as np

        spans: list = [[] for _ in range(len(texts))]
        if len(texts):
            filled = texts.fillna("")
            tex_np = filled.to_numpy()
            hit = filled.str.contains(vocab_re).to_numpy()
            for i in np.nonzero(hit)[0]:
                t = tex_np[i]
                for k in vocab:
                    if k in t:
                        spans[i].extend(
                            {"key": k, "start": s, "end": e}
                            for (s, e) in find_spans(t, k)
                        )
        return spans

    return spans_of


def span_udf(vocab: Sequence[str]):
    """Vectorized pandas UDF: all vocab-key char spans per text (X6),
    computed by the render path's span stage (:func:`_span_finder`)."""
    spans_of = _span_finder(vocab)

    @F.pandas_udf(SPAN_TYPE)
    def _spans(texts: pd.Series) -> pd.Series:
        return pd.Series(spans_of(texts), index=texts.index)

    return _spans


def fn_names_udf():
    """Vectorized pandas UDF for the import parser (X1, utils.py:53-61)."""

    @F.pandas_udf(ArrayType(StringType()))
    def _fns(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: get_fn_names(t) if t is not None else [])

    return _fns


def token_count_udf():
    """Vectorized pandas UDF: deterministic token count per text (X13).

    ``len(tok.encode(t)) == count_tokens(t) == len(_PIECE_RE.findall(t))``
    by construction (tokenizer.py count_tokens), and
    ``count_pieces_batch`` computes the same count with a vectorized
    numpy char-class pass (~3x the regex; equivalence fuzz-pinned) —
    no per-row encode, no id hashing — matching the render path's
    n_tokens stage (_extract_batches).  Keep
    ``DeterministicTokenizer.encode`` for paths that need actual ids.
    """
    from ocr_spark.kernels.tokenizer import count_pieces_batch

    @F.pandas_udf(IntegerType())
    def _ntok(texts: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            np.asarray(count_pieces_batch(texts.to_numpy())).astype("int32"),
            index=texts.index,
        )

    return _ntok
