"""Distributed BPE-merge trainer (Sennrich et al. 2016).

The tokenizer-training half of the pipeline: learn the first K
byte-pair-encoding merges from the corpus, exactly the computation
`tokenizers`/`sentencepiece` run offline — re-expressed as the classic
Spark shape (one corpus shuffle to build the weighted word vocabulary,
then vocab-sized iterations: pair-count aggregation -> global top-1 ->
map-side merge).  The reference consumes a LEARNED gemma BPE
(tokenizer contracts in kernels/tokenizer.py cite it); this operator
is the trainer that produces such merge tables, at the scale where a
single-node trainer stops working.

Cross-engine exactness (the whole point of the design):

- Greedy left-to-right merging is a PLAIN STRING REPLACE on a
  parenthesized symbol encoding: a word's symbols render as
  ``(s1)(s2)...``, and merging pair (a,b) is
  ``replace(enc, '(a)(b)', '(ab)')``.  Non-regex replace scans
  left-to-right over non-overlapping occurrences in both engines —
  identical greedy semantics, including runs ("(a)(b)(a)(b)" ->
  "(ab)(ab)"), and the brackets make cross-symbol false matches
  impossible ("(ab)(a)" does NOT contain "(b)(a)").
- Words containing ``(``, ``)`` or a newline are filtered out by the
  same predicate in both engines (brackets would break the encoding;
  ``.`` does not match newlines in either regex engine), and the
  filter is reported nowhere because the vocab is weighted by the
  surviving occurrences only — deterministic on any corpus.
- The top pair per iteration is ORDER BY count DESC, sym1, sym2 —
  a total order, so ties break identically.

Scale notes (100 TB): the corpus is touched ONCE (word explode ->
weighted vocab groupBy with map-side partials); every iteration after
that runs on the |vocab| table — the same reason HF's trainer fits in
memory, but distributed: pair counts aggregate with partial sums, the
top-1 is a TakeOrderedAndProject (no global sort), and the merge is a
map-side replace.  The collected top pair is one scalar row per
iteration — the same legitimate driver-side loop certificate as
kmeans_train's codebook and the (count, hash-sum) fingerprint that
connected_components_star observes per round.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.queries.catalog import _register, _t

#: Number of merges to learn (mirrored by the unrolled oracle CTEs).
BPE_ITERS = 3

#: Words that would break the bracket encoding are dropped by BOTH
#: engines before training.
_BAD_WORD_RE = "[()\\n]"


def _sql_pairs(v: str) -> str:
    """Weighted adjacent-symbol pair counts over vocab CTE ``v``."""
    return f"""
  SELECT list_extract(s, j) AS s1, list_extract(s, j + 1) AS s2,
         CAST(sum(wt) AS BIGINT) AS cnt
  FROM (
    SELECT s, wt, unnest(generate_series(1, len(s) - 1)) AS j
    FROM (SELECT str_split(substr(enc, 2, len(enc) - 2), ')(') AS s, wt
          FROM {v})
  )
  GROUP BY s1, s2
"""


def _bpe_sql() -> str:
    parts = ["""
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wt
  FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND NOT regexp_matches(word, '[()\\n]')
  GROUP BY word
),
v0 AS (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS enc, wt FROM w
)"""]
    for i in range(1, BPE_ITERS + 1):
        parts.append(f""",
p{i} AS ({_sql_pairs(f'v{i - 1}')}),
t{i} AS (SELECT s1, s2, cnt FROM p{i} ORDER BY cnt DESC, s1, s2 LIMIT 1),
v{i} AS (
  SELECT replace(enc, '(' || s1 || ')(' || s2 || ')',
                 '(' || s1 || s2 || ')') AS enc, wt
  FROM v{i - 1}, t{i}
)""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS merge_idx, s1 AS sym1, s2 AS sym2, "
        f"s1 || s2 AS merged, cnt AS pair_count FROM t{i}"
        for i in range(1, BPE_ITERS + 1)
    )
    return "".join(parts) + f"\n{selects}\nORDER BY merge_idx"


_PAIRS_EXPR = (
    "CASE WHEN size(s) >= 2"
    " THEN transform(sequence(1, size(s) - 1),"
    "      j -> struct(element_at(s, j) AS s1, element_at(s, j + 1) AS s2))"
    " ELSE array() END"
)


@_register("bpe_train", _bpe_sql())
def bpe_train(spark, sf_dir):
    """Learn the first BPE_ITERS merges from the corpus — see module
    docstring for the exactness/scale design.  Returns the merge table
    (merge_idx, sym1, sym2, merged, pair_count): a driver artifact like
    kmeans_train's codebook, rebuilt as a DataFrame for the oracle
    compare."""
    return bpe_core(spark, _t(spark, sf_dir, "documents"))


def bpe_core(spark, docs):
    """Core of :func:`bpe_train` over any frame with a ``text`` column
    — factored so tests can pin the merges against a naive trainer."""
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").rlike(_BAD_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wt"))
        .select(
            F.regexp_replace(F.col("word"), "(.)", "($1)").alias("enc"), "wt"
        )
        .localCheckpoint()  # vocab-sized; cuts the re-merge lineage
    )
    merges = []
    for it in range(1, BPE_ITERS + 1):
        syms = F.split(F.expr("substring(enc, 2, length(enc) - 2)"), "\\)\\(")
        top = (
            vocab.withColumn("s", syms)
            .select("wt", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .select("wt", F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .groupBy("s1", "s2")
            .agg(F.sum("wt").alias("cnt"))
            .orderBy(F.desc("cnt"), "s1", "s2")
            .limit(1)
            .collect()
        )
        if not top:
            break
        s1, s2, cnt = top[0]["s1"], top[0]["s2"], top[0]["cnt"]
        merges.append((it, s1, s2, s1 + s2, int(cnt)))
        vocab = vocab.select(
            F.replace(
                F.col("enc"), F.lit(f"({s1})({s2})"), F.lit(f"({s1}{s2})")
            ).alias("enc"),
            "wt",
        ).localCheckpoint()
    schema = StructType(
        [
            StructField("merge_idx", IntegerType()),
            StructField("sym1", StringType()),
            StructField("sym2", StringType()),
            StructField("merged", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


# ---------------------------------------------------------------------------
# apply the learned merges: per-document BPE token counts
# ---------------------------------------------------------------------------

def _encode_sql() -> str:
    """Oracle: extend the trainer CTEs, carrying ``word`` so the final
    vocab joins back to per-doc word occurrences."""
    base = _bpe_sql().split("\nSELECT 1 AS merge_idx")[0]
    # re-emit v0..vK carrying the word column
    parts = [base.replace(
        "v0 AS (\n  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS enc, wt FROM w\n)",
        "v0 AS (\n  SELECT word, regexp_replace(word, '(.)', '(\\1)', 'g') AS enc, wt FROM w\n)",
    )]
    for i in range(1, BPE_ITERS + 1):
        parts[0] = parts[0].replace(
            f"v{i} AS (\n  SELECT replace(enc,",
            f"v{i} AS (\n  SELECT word, replace(enc,",
        )
    return parts[0] + f""",
dw AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
)
SELECT doc_id,
       CAST(count(*) FILTER (WHERE word <> '') AS INTEGER) AS n_words,
       CAST(coalesce(sum(
         CASE WHEN word = '' THEN 0
              WHEN enc IS NULL THEN length(word)
              ELSE 1 + (length(enc) - length(replace(enc, ')(', ''))) // 2
         END), 0) AS BIGINT) AS n_bpe_tokens
FROM dw LEFT JOIN v{BPE_ITERS} USING (word)
GROUP BY doc_id
"""


@_register("bpe_encode", _encode_sql())
def bpe_encode(spark, sf_dir):
    """Apply the learned merge table to the corpus and count BPE
    tokens per document (the trainer's consumer — what a dataloader's
    length statistics run on).  The merges are collected driver
    artifacts (3 scalar rows) baked into the encoding expression as
    LITERAL replaces, so the scoring side is pure map-work: wrap each
    word's chars in brackets, chain the K merge replaces, count
    symbols as 1 + count(')(') — and the only exchange is the per-doc
    rollup with map-side partial sums.  Words the trainer excluded
    (bracket/newline chars) fall back to one token per char; empty
    split artifacts count zero.  The oracle instead joins the unrolled
    vocab CTE back to word occurrences — per-occurrence literal
    application and join-to-vocab application agree because encoding
    is a pure function of the word."""
    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["sym1"], r["sym2"])
        for r in bpe_core(spark, docs).collect()
    ]
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    enc = F.regexp_replace(F.col("word"), "(.)", "($1)")
    for s1, s2 in merges:
        enc = F.replace(enc, F.lit(f"({s1})({s2})"), F.lit(f"({s1}{s2})"))
    n_tok = (
        F.when(F.col("word") == "", F.lit(0).cast("long"))
        .when(F.col("word").rlike(_BAD_WORD_RE), F.length("word").cast("long"))
        .otherwise(
            1 + (F.length(enc) - F.length(F.replace(enc, F.lit(")("), F.lit(""))))
            / F.lit(2)
        )
        .cast("long")
    )
    return words.groupBy("doc_id").agg(
        F.sum(F.when(F.col("word") != "", 1).otherwise(0)).cast("int")
        .alias("n_words"),
        F.coalesce(F.sum(n_tok), F.lit(0)).cast("long").alias("n_bpe_tokens"),
    )
