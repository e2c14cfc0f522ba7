"""Span-level n-gram operators: duplicate-span profiling, eval-set
contamination, boilerplate mining, winnowing fingerprints.

Round-4 additions beyond the document-level dedup family in
``pipeline_ops.py``: a 100 TB training-data pipeline needs to know not
just *which documents* are near-duplicates but *which spans inside
them* are duplicated (Lee et al. 2022, "Deduplicating Training Data
Makes Language Models Better"), whether the corpus is contaminated
with eval-set n-grams (the standard benchmark-decontamination pass),
what the most frequent n-grams are (boilerplate mining), and a
selective document fingerprint (Schleimer et al. SIGMOD 2003
winnowing, the MOSS algorithm) whose guarantee — every shared
substring of length >= w+k-1 words produces at least one shared
fingerprint — makes it the classic scalable substring-dedup primitive.

Scale shapes (100 TB):

- ``dedup_span_ngram``: one shuffle of the window set (the
  min-vs-max-over-window trick detects ">= 2 distinct docs" without a
  count-distinct or a join-back, and its hashpartitioning(win) is the
  only exchange before the per-doc reaggregation);
- ``contamination_check``: the eval n-gram set is tiny by construction
  — it is BROADCAST into the train-side scan twice (semi-join filter,
  then hit-set lookup), so the only shuffled rows are train grams that
  actually match an eval gram (bounded by the eval set x occurrence
  counts, with map-side partial dedup);
- ``topk_ngrams``: partial map-side counts + TakeOrderedAndProject —
  the canonical top-k plan, no full sort;
- ``winnowing_fingerprint``: windowed min per doc — partitions by
  doc_id, so skew follows document length; documents are bounded
  (they are conversation turns / pages, not whole crawls), and the
  pos encoding caps at 2^20 grams (~1M words) per doc, asserted below.

All four are oracle-checked against DuckDB with exact integer
arithmetic (the ratio columns divide two exact BIGINTs, identical
IEEE doubles in both engines).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_spark.queries.catalog import _register, _t
from ocr_spark.queries.pipeline_ops import (
    _GRAMS_EXPR,
    _SQL_SHINGLES,
    bind_words,
    shingles,
    sql_str_hash,
    str_hash,
)

# ---------------------------------------------------------------------------
# span-duplicate profile: k-word windows at a stride
# ---------------------------------------------------------------------------

#: window size / stride for the span detector.  k=4 keeps windows long
#: enough to be meaningful spans but short enough that the synthetic
#: corpus (and any natural-language corpus) actually repeats them.
SPAN_K = 4
SPAN_STRIDE = 2

# Strided k-word windows.  The CASE guard mirrors _GRAMS_EXPR: Spark's
# sequence(1, 0) auto-steps DOWN while DuckDB's generate_series(1, 0)
# is empty — the guard makes short docs drop identically.
# References a pre-bound ``ws`` word array (pipeline_ops.bind_words):
# split(text) inside the lambda body is not CSE'd and would re-split
# the document per window (BENCH.md §3e).
_WIN_EXPR = (
    f"CASE WHEN size(ws) >= {SPAN_K}"
    f" THEN transform(sequence(1, size(ws) - {SPAN_K - 1}, {SPAN_STRIDE}),"
    f"      i -> array_join(slice(ws, i, {SPAN_K}), ' '))"
    " ELSE array() END"
)


@_register(
    "dedup_span_ngram",
    f"""
WITH wins AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + {SPAN_K - 1}), ' ') AS win
  FROM (
    SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - {SPAN_K - 1}, 0), {SPAN_STRIDE})) AS i
    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)
  )
),
flagged AS (
  SELECT doc_id,
         CASE WHEN min(doc_id) OVER (PARTITION BY win)
                   <> max(doc_id) OVER (PARTITION BY win)
              THEN 1 ELSE 0 END AS dup
  FROM wins
)
SELECT doc_id,
       count(*) AS n_windows,
       CAST(sum(dup) AS BIGINT) AS n_dup,
       CAST(sum(dup) AS BIGINT) / count(*) AS dup_ratio
FROM flagged GROUP BY doc_id
""",
)
def dedup_span_ngram(spark, sf_dir):
    """Span-level duplicate profile (Lee et al. 2022 style, word-window
    approximation): slide a SPAN_K-word window at SPAN_STRIDE through
    every document and flag windows whose text occurs in >= 2 DISTINCT
    documents; report per-doc window/duplicate counts and the dup ratio.

    ">= 2 distinct docs" is detected as ``min(doc_id) != max(doc_id)``
    over a window partitioned by the span text — no count-distinct, no
    groupBy+join-back, and the win-hash exchange is the single shuffle
    of the window set.  A window repeated only WITHIN one doc is not a
    duplicate (self-repetition is ``text_repetition``'s job).  Docs
    shorter than SPAN_K words produce no windows and are absent.
    """
    docs = _t(spark, sf_dir, "documents")
    wins = bind_words(docs, "doc_id").select(
        "doc_id", F.explode(F.expr(_WIN_EXPR)).alias("win")
    )
    byw = Window.partitionBy("win")
    flagged = wins.withColumn(
        "dup",
        (F.min("doc_id").over(byw) != F.max("doc_id").over(byw)).cast("long"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(F.count("*").alias("n_windows"), F.sum("dup").alias("n_dup"))
        .select(
            "doc_id",
            "n_windows",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_windows")).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# eval-set contamination check
# ---------------------------------------------------------------------------

#: deterministic eval subset: doc_id % EVAL_MOD == 0 (a stand-in for
#: "the benchmark docs" — 2% of the corpus).
EVAL_MOD = 50


@_register(
    "contamination_check",
    f"""
WITH sh AS ({_SQL_SHINGLES}),
ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
SELECT ev.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN tr.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN tr.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) / count(*)
           AS contamination
FROM ev LEFT JOIN tr ON ev.sh = tr.sh
GROUP BY ev.doc_id
""",
)
def contamination_check(spark, sf_dir):
    """Benchmark-decontamination pass: for each eval doc (doc_id %
    EVAL_MOD == 0), the fraction of its distinct 3-gram shingles that
    appear anywhere in the train split (the other docs).

    Scale shape: the eval gram set is small by construction, so it is
    broadcast INTO the train scan (left-semi) — the train side never
    shuffles; only matching gram occurrences flow into the distinct
    (map-side partial dedup, result bounded by the eval set), and the
    matched set is broadcast back for the per-eval-doc rollup.  This is
    the standard production layout (broadcast eval n-grams / Bloom
    filter over the crawl scan).
    """
    docs = _t(spark, sf_dir, "documents")
    sh_all = shingles(docs)
    ev = sh_all.filter(F.col("doc_id") % EVAL_MOD == 0)
    tr = sh_all.filter(F.col("doc_id") % EVAL_MOD != 0).select("sh")
    ev_grams = ev.select("sh").distinct()
    matched = tr.join(F.broadcast(ev_grams), "sh", "left_semi").distinct()
    return (
        ev.join(F.broadcast(matched.withColumn("hit", F.lit(1))), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_grams")).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# boilerplate mining: corpus-wide top-k n-grams
# ---------------------------------------------------------------------------

TOPK_NGRAMS = 20


@_register(
    "topk_ngrams",
    f"""
WITH grams AS (
  SELECT words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS sh
  FROM (
    SELECT words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
    FROM (SELECT str_split(text, ' ') AS words FROM documents)
  )
)
SELECT sh, count(*) AS n
FROM grams GROUP BY sh
ORDER BY n DESC, sh
LIMIT {TOPK_NGRAMS}
""",
)
def topk_ngrams(spark, sf_dir):
    """Corpus-wide most-frequent 3-grams (occurrence counts, NOT
    per-doc distinct — boilerplate repeats within docs too).  The plan
    is partial map-side counts + TakeOrderedAndProject: no full sort,
    no driver collect of the gram set.  Ties are broken by gram text so
    the top-k SET is deterministic in both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    grams = bind_words(docs).select(F.explode(F.expr(_GRAMS_EXPR)).alias("sh"))
    return (
        grams.groupBy("sh")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("sh"))
        .limit(TOPK_NGRAMS)
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. SIGMOD 2003, the MOSS
# algorithm)
# ---------------------------------------------------------------------------

#: winnowing window: pick the min hash of every WINNOW_W consecutive
#: 3-gram hashes.  Guarantee: any shared word-substring of length
#: >= WINNOW_W + 3 - 1 = 6 words yields a shared fingerprint.
WINNOW_W = 4
#: per-doc gram-position cap baked into the comb encoding (2^20 grams
#: ~ 1M words per document).
_POS_CAP = 1 << 20
_H40_MOD = 1 << 40

# positioned 3-grams: array<struct<pos,sh>> with pos = 1-based start
# word index (matches DuckDB's generate_series exactly).
_POS_GRAMS_EXPR = (
    "CASE WHEN size(ws) >= 3"
    " THEN transform(sequence(1, size(ws) - 2),"
    "      i -> named_struct('pos', i, 'sh',"
    "           array_join(slice(ws, i, 3), ' ')))"
    " ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, sh: STRING>>) END"
)


@_register(
    "winnowing_fingerprint",
    f"""
WITH g0 AS (
  SELECT doc_id, i AS pos, words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] AS sh
  FROM (
    SELECT doc_id, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
    FROM (SELECT doc_id, str_split(text, ' ') AS words FROM documents)
  )
),
c AS (
  SELECT doc_id, pos,
         (({sql_str_hash('sh')}) % {_H40_MOD}) * {_POS_CAP}
             + ({_POS_CAP - 1} - pos) AS comb,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM g0
),
m AS (
  SELECT doc_id, pos, n,
         min(comb) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mc
  FROM c
)
SELECT DISTINCT doc_id,
       {_POS_CAP - 1} - (mc % {_POS_CAP}) AS fp_pos,
       mc // {_POS_CAP} AS fp_hash
FROM m WHERE pos <= n - {WINNOW_W - 1}
""",
)
def winnowing_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints: hash every 3-gram, slide a
    window of WINNOW_W consecutive hashes, keep the minimum of each
    window (rightmost on ties — the paper's robust-winnowing rule),
    dedup the picks.  Output is the fingerprint set (doc_id, fp_pos,
    fp_hash) — expected density 2/(w+1) of the grams, and any 6-word
    overlap between two docs is guaranteed to share a fingerprint.

    The min-with-rightmost-tie pick is ONE windowed ``min`` over an
    order-encoded composite ``comb = h40 * 2^20 + (2^20-1 - pos)``:
    minimizing comb minimizes the 40-bit hash and, among equal hashes,
    maximizes pos.  comb fits int64 (60 bits); pos is asserted under
    the 2^20 cap.  Plan: one hashpartitioning(doc_id) exchange feeds
    both the count and the ordered frame, then a distinct on the
    (already doc-partitioned) picks.
    """
    docs = _t(spark, sf_dir, "documents")
    g = bind_words(docs, "doc_id").select(
        "doc_id", F.explode(F.expr(_POS_GRAMS_EXPR)).alias("pg")
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.sh").alias("sh"))
    h40 = str_hash(F.col("sh")) % F.lit(_H40_MOD)
    c = g.select(
        "doc_id",
        "pos",
        (h40 * _POS_CAP + (F.lit(_POS_CAP - 1) - F.col("pos"))).alias("comb"),
    )
    # the encoding is only order-correct while pos < _POS_CAP
    c = c.withColumn(
        "comb",
        F.when(F.col("pos") < _POS_CAP, F.col("comb")).otherwise(
            F.raise_error(F.lit("winnowing: document exceeds 2^20 grams"))
        ),
    )
    byd = Window.partitionBy("doc_id")
    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    )
    m = c.withColumn("n", F.count("*").over(byd)).withColumn(
        "mc", F.min("comb").over(frame)
    )
    return (
        m.filter(F.col("pos") <= F.col("n") - (WINNOW_W - 1))
        .select(
            "doc_id",
            (F.lit(_POS_CAP - 1) - F.col("mc") % _POS_CAP).alias("fp_pos"),
            F.expr(f"mc div {_POS_CAP}").alias("fp_hash"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style excision: remove duplicated spans, keep one copy
# ---------------------------------------------------------------------------

#: Excision window: EX_K consecutive words at stride 1 (stride 1 so
#: coverage of a duplicated region has no gaps).
EX_K = 4

_EX_WIN_EXPR = (
    f"CASE WHEN size(ws) >= {EX_K}"
    f" THEN transform(sequence(1, size(ws) - {EX_K - 1}),"
    f"      i -> struct(i AS i, array_join(slice(ws, i, {EX_K}), ' ')"
    f"                    AS win))"
    " ELSE array() END"
)


@_register(
    "exact_substr_excise",
    f"""
WITH wins AS (
  SELECT doc_id, i, array_to_string(list_slice(w, i, i + {EX_K - 1}), ' ') AS win
  FROM (
    SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - {EX_K - 1}, 0))) AS i
    FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)
  )
),
flagged AS (
  SELECT doc_id, i,
         doc_id <> min(doc_id) OVER (PARTITION BY win) AS excise
  FROM wins
),
starts AS (
  SELECT doc_id, list_sort(list(i)) AS s
  FROM flagged WHERE excise GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(w) AS INTEGER) AS n_words,
       CAST(len(w) - len(kept) AS INTEGER) AS n_excised,
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM (
  SELECT doc_id, w,
         [list_extract(w, p) FOR p IN generate_series(1, len(w))
          IF len([x FOR x IN cs IF x <= p AND p <= x + {EX_K - 1}]) = 0] AS kept
  FROM (
    SELECT d.doc_id, str_split(d.text, ' ') AS w, coalesce(s.s, []) AS cs
    FROM documents d LEFT JOIN starts s ON d.doc_id = s.doc_id
  ) AS d0(doc_id, w, cs)
) AS d(doc_id, w, kept)
""",
)
def exact_substr_excise(spark, sf_dir):
    """ExactSubstr dedup with keep-one-copy semantics (Lee et al. 2022
    §3.1, word-window approximation): every {EX_K}-word span whose text
    occurs in >= 2 distinct documents is excised from all documents
    EXCEPT the lowest doc_id holding it (``doc_id != min(doc_id)`` over
    the span window — the copy in the earliest doc survives, exactly
    the paper's keep-one policy).  Overlapping duplicated spans merge
    implicitly: a word is removed iff ANY excised window covers it, so
    runs of duplicated windows excise as one island.

    Plan: shuffle 1 = the span-text window (dup detection, same shape
    as dedup_span_ngram); shuffle 2 = per-doc start-list aggregation
    (sorted int array, tiny rows); shuffle 3 = doc_id equi-join of the
    start lists back to the corpus — exchange-free when both sides are
    bucketed by doc_id in a metastore table (``bucketBy``).  The
    coverage test + rebuild are native higher-order expressions
    (exists/filter with index), map-side after the join."""
    return exact_substr_core(_t(spark, sf_dir, "documents"))


def exact_substr_core(docs):
    """Core of :func:`exact_substr_excise` over any ``(doc_id, text)``
    frame — factored so tests can pin keep-one-copy on planted spans."""
    wins = bind_words(docs, "doc_id").select(
        "doc_id", F.explode(F.expr(_EX_WIN_EXPR)).alias("pw")
    ).select("doc_id", F.col("pw.i").alias("i"), F.col("pw.win").alias("win"))
    byw = Window.partitionBy("win")
    starts = (
        wins.withColumn("excise", F.col("doc_id") != F.min("doc_id").over(byw))
        .filter(F.col("excise"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("s"))
    )
    joined = docs.join(starts, "doc_id", "left").select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.coalesce(F.col("s"), F.array().cast("array<int>")).alias("cs"),
    )
    kept = F.filter(
        F.col("w"),
        lambda x, p: ~F.exists(
            F.col("cs"),
            lambda s: (s <= p + 1) & (p + 1 <= s + F.lit(EX_K - 1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("w").cast("int").alias("n_words"),
        (F.size("w") - F.size(kept)).cast("int").alias("n_excised"),
        F.array_join(kept, " ").alias("clean_text"),
    )

# ---------------------------------------------------------------------------
# Bloom-filter contamination prefilter
# ---------------------------------------------------------------------------
# The production decontamination shape at crawl scale: before the exact
# eval-gram join (contamination_check), the crawl side is screened
# against a BLOOM FILTER of the eval grams — a few KB broadcast into
# the scan — so only candidate documents ever reach the exact stage.
# The filter is exactly reproducible across engines: positions come
# from the shared md5 hash with k=3 salts, and the word layout uses 62
# bits per 64-bit word because DuckDB raises on (1::BIGINT << 63)
# while Spark's shiftleft silently wraps to the sign bit — 62 keeps
# every shift in-range for both.  False positives are therefore
# DETERMINISTIC and the DuckDB oracle reproduces them bit-for-bit.

#: Filter sizing: production sizes m to the eval-set cardinality
#: (~10-15 bits per element).  1024 words x 62 bits = 63,488 bits is
#: ~14 bits/gram at the sf0.1 eval-gram count (4.5k) — the filter
#: genuinely discriminates at every test SF (an undersized filter
#: saturates and flags every document, verified at 64 words).
_BLOOM_WORDS = 1024  # filter words
_BLOOM_BITS = 62     # usable bits per word (see note above)
_BLOOM_M = _BLOOM_WORDS * _BLOOM_BITS  # 63,488 filter bits
_BLOOM_K = 3         # hash salts


def _bloom_pos_sql(i: int, engine: str) -> str:
    """Position expression for salt ``i`` over a column ``sh`` —
    nonnegative (48-bit hash), so plain ``%`` agrees between engines."""
    if engine == "duckdb":
        return sql_str_hash(f"'{i}:' || sh") + f" % {_BLOOM_M}"
    return (
        f"cast(conv(substring(md5(concat('{i}:', sh)), 1, 12), 16, 10)"
        f" as bigint) % {_BLOOM_M}"
    )


_SQL_BLOOM_EVPOS = " UNION ALL ".join(
    f"SELECT {_bloom_pos_sql(i, 'duckdb')} AS p FROM ev"
    for i in range(_BLOOM_K)
)

_SQL_BLOOM_TRPOS = " UNION ALL ".join(
    f"SELECT doc_id, sh, {_bloom_pos_sql(i, 'duckdb')} AS p FROM tr"
    for i in range(_BLOOM_K)
)


@_register(
    "bloom_prefilter",
    f"""
WITH sh AS ({_SQL_SHINGLES}),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {EVAL_MOD} = 0),
evpos AS ({_SQL_BLOOM_EVPOS}),
bloom AS (
  SELECT p // {_BLOOM_BITS} AS w,
         bit_or(1::BIGINT << CAST(p % {_BLOOM_BITS} AS INT)) AS mask
  FROM evpos GROUP BY p // {_BLOOM_BITS}
),
tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
trpos AS ({_SQL_BLOOM_TRPOS}),
gram_hits AS (
  SELECT t.doc_id, t.sh,
         CASE WHEN count(*) FILTER (
                WHERE b.mask IS NOT NULL
                  AND (b.mask
                       & (1::BIGINT << CAST(t.p % {_BLOOM_BITS} AS INT)))
                      <> 0
              ) = {_BLOOM_K}
              THEN 1 ELSE 0 END AS hit
  FROM trpos t LEFT JOIN bloom b ON t.p // {_BLOOM_BITS} = b.w
  GROUP BY t.doc_id, t.sh
)
SELECT doc_id,
       count(*) AS n_grams,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       sum(hit) > 0 AS is_candidate
FROM gram_hits GROUP BY doc_id
""",
)
def bloom_prefilter(spark, sf_dir):
    """Bloom-filter decontamination prefilter: build a 63,488-bit
    filter (k=3 salted md5 hashes, 62 usable bits per word) over the
    DISTINCT
    eval-set 3-gram shingles (doc_id % EVAL_MOD == 0, the
    contamination_check split), then screen every train document — a
    gram is a (possible) hit iff all 3 of its bits are set, and a
    document is a candidate for the exact stage iff any gram hits.
    False positives are inherent to the structure and DETERMINISTIC
    here (shared integer hash), so the oracle reproduces them exactly.
    Measured against the exact semi-join truth: sf0.01 257/257
    candidate docs (zero false positives), sf0.1 4827 vs 4818 true
    (0.2% doc-level excess; the high candidate rate itself is genuine
    gram sharing in the synthetic corpus, not filter error).

    Scale shape (the whole point at 100 TB): the eval side reduces to
    a <= 1024-row bitmask aggregation (bit_or partials combine
    map-side) COLLECTED to the driver — bounded artifact, 8 KB of
    longs, same policy
    as the IVF/kmeans codebooks — and re-enters the plan as a literal
    array, so the train side is PURE MAP-SIDE codegen (three shifts +
    ANDs per gram against the literal) with NO join at all; its only
    exchange is the final per-doc aggregation (plan-guarded).
    Contrast contamination_check, which broadcast-joins the full eval
    gram set: this screen is the stage that keeps that exact join's
    input small."""
    docs = _t(spark, sf_dir, "documents")
    sh_all = shingles(docs)

    ev = sh_all.filter(F.col("doc_id") % EVAL_MOD == 0).select("sh").distinct()
    evpos = ev.select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_sql(i, "spark")) for i in range(_BLOOM_K)]
            )
        ).alias("p")
    )
    bloom_rows = (
        evpos.select(
            F.expr(f"cast(p div {_BLOOM_BITS} as int)").alias("w"),
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast(p % {_BLOOM_BITS} as int))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    masks = [0] * _BLOOM_WORDS
    for r in bloom_rows:
        masks[r["w"]] = r["mask"]
    bloom_sql = "array(" + ", ".join(f"{m}L" for m in masks) + ")"

    def _check_sql(i: int) -> str:
        # references the bound position column p{i} — the md5 position
        # is computed ONCE per (gram, salt) in the prior projection
        # (same no-recompute-in-consumers rule as bind_words)
        return (
            f"(element_at({bloom_sql}, cast(p{i} div {_BLOOM_BITS} as int) + 1)"
            f" & shiftleft(cast(1 as bigint),"
            f"             cast(p{i} % {_BLOOM_BITS} as int))) != 0"
        )

    hit = F.expr(
        "if(" + " AND ".join(_check_sql(i) for i in range(_BLOOM_K)) + ", 1, 0)"
    )
    tr = sh_all.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id",
        *[
            F.expr(_bloom_pos_sql(i, "spark")).alias(f"p{i}")
            for i in range(_BLOOM_K)
        ],
    )
    return (
        tr.select("doc_id", hit.alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("hit").cast("long").alias("n_hits"),
            (F.sum("hit") > 0).alias("is_candidate"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic cross-engine HyperLogLog (distinct-shingle cardinality)
# ---------------------------------------------------------------------------
# Spark's approx_count_distinct is exactly this sketch, but its
# internal hash is not reproducible outside the JVM, so it can never be
# oracle-checked.  This is the cross-engine-deterministic analog
# (Flajolet et al. 2007): register index = top 8 bits of the shared
# 48-bit md5 hash, rho = leading-zero rank of the low 40 bits, and the
# harmonic-mean denominator is accumulated as SUM(2^(41 - M_j)) in
# exact integers — dyadic terms, order-free, bit-identical under any
# partitioning / aggregation order in both engines.  The raw estimate
# is emitted uncorrected (no float pow/ln anywhere); zero_registers is
# exposed so a consumer can apply the standard linear-counting
# small-range correction driver-side.

_HLL_M = 256          # registers (b = 8 index bits)
_HLL_WBITS = 40       # rank bits (48-bit hash minus 8 index bits)
_HLL_ALPHA_PPM = 718273  # alpha_256 = 0.7213 / (1 + 1.079/256), in ppm
#: clamp on (m^2 << 41) div Z so est = ALPHA * q never exceeds int64 in
#: EITHER engine (Spark would wrap silently, DuckDB would promote to
#: HUGEINT and diverge — the link_pagerank overflow class).  The clamp
#: binds only past ~5e9 true distinct items (sketch saturation; est
#: ceiling ~4.6e12), far beyond one 256-register sketch's useful range.
_HLL_Q_CLAMP = 6420519800169  # (2^62) div ALPHA_PPM


@_register(
    "hll_distinct",
    f"""
WITH g AS (
  SELECT lang,
         CAST(list_sum([CAST(strpos('0123456789abcdef', substr(md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]), i2, 1)) - 1 AS BIGINT) * CAST(power(16, 12 - i2) AS BIGINT) FOR i2 IN generate_series(1, 12)]) AS BIGINT) AS h
  FROM (
    SELECT lang, words, unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i
    FROM (SELECT lang, str_split(text, ' ') AS words FROM documents)
  )
),
r AS (
  SELECT lang,
         h // {2 ** _HLL_WBITS} AS reg,
         CASE WHEN h % {2 ** _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
              ELSE {_HLL_WBITS + 1} - length(bin(h % {2 ** _HLL_WBITS}))
         END AS rho
  FROM g
),
m AS (SELECT lang, reg, max(rho) AS mj FROM r GROUP BY lang, reg),
z AS (
  SELECT lang,
         CAST({_HLL_M} - count(*) AS BIGINT) AS zero_registers,
         CAST(sum(1::BIGINT << CAST({_HLL_WBITS + 1} - mj AS INT))
              + ({_HLL_M} - count(*)) * (1::BIGINT << {_HLL_WBITS + 1})
              AS BIGINT) AS z_scaled
  FROM m GROUP BY lang
)
SELECT lang, zero_registers, z_scaled,
       CAST(({_HLL_ALPHA_PPM} * least(
               (1::BIGINT << {16 + _HLL_WBITS + 1}) // z_scaled,
               {_HLL_Q_CLAMP})) // 1000000 AS BIGINT) AS est_distinct
FROM z
""",
)
def hll_distinct(spark, sf_dir):
    """Per-language distinct-shingle cardinality via a deterministic
    256-register HyperLogLog (Flajolet et al. 2007) over the shared
    48-bit md5 hash: register = top 8 hash bits, rho = leading-zero
    rank of the low 40 bits (41 for an all-zero tail), Z accumulated
    as SUM(2^(41 - M_j)) in exact integers so the result is
    bit-identical under any aggregation order.  Emits the register
    state (z_scaled, zero_registers) plus the raw integer estimate
    `est_distinct = alpha_256 * m^2 / Z` in fixed-point (no float
    pow/ln; no small-range correction — apply linear counting
    driver-side from zero_registers when est < 5m/2).  Accuracy is the
    standard 1.04/sqrt(256) ~ 6.5% sigma, pinned against the exact
    distinct count in tests/test_ngram_extras.py.

    Scale shape: this is THE mergeable-sketch aggregation — the gram
    stream reduces to <= langs x 256 register rows with map-side
    partial max (each executor holds one 256-byte sketch per lang, the
    shuffle carries registers, never items), then a <= langs-row
    rollup.  Two bounded exchanges, no joins, no Python
    (plan-guarded); the int64 overflow clamp is shared with the
    oracle so neither engine can wrap or promote."""
    docs = _t(spark, sf_dir, "documents")
    # no doc_id join and no per-doc distinct: HLL is insensitive to
    # duplicate items, so the gram stream carries lang straight off the
    # scan — map-only until the register aggregation
    g = bind_words(docs, "lang").select(
        "lang", F.explode(F.expr(_GRAMS_EXPR)).alias("sh")
    ).select("lang", str_hash(F.col("sh")).alias("h"))
    w = F.col("h") % F.lit(2 ** _HLL_WBITS)
    r = g.select(
        "lang",
        (F.col("h") / F.lit(2 ** _HLL_WBITS)).cast("long").alias("reg"),
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(
            F.lit(_HLL_WBITS + 1) - F.length(F.expr(f"bin(h % {2 ** _HLL_WBITS})"))
        )
        .cast("int")
        .alias("rho"),
    )
    m = r.groupBy("lang", "reg").agg(F.max("rho").alias("mj"))
    z = m.groupBy("lang").agg(
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("zero_registers"),
        (
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_WBITS + 1} - mj)"))
            + (F.lit(_HLL_M) - F.count("*"))
            * F.lit(1 << (_HLL_WBITS + 1)).cast("long")
        ).cast("long").alias("z_scaled"),
    )
    est = F.expr(
        f"cast(({_HLL_ALPHA_PPM} * least("
        f"cast({1 << (16 + _HLL_WBITS + 1)} as bigint) div z_scaled, "
        f"{_HLL_Q_CLAMP}L)) div 1000000 as bigint)"
    )
    return z.select("lang", "zero_registers", "z_scaled",
                    est.alias("est_distinct"))
