"""Operator catalog: Spark DataFrame queries + DuckDB oracle SQL.

Every entry implements one operator row of SURVEY.md §2 (IDs in the
query names).  Each Spark callable takes ``(spark, sf_dir)``; the
matching oracle string is DuckDB SQL over the driver's pre-registered
views.  Column names/aliases are identical on both sides (the driver
sorts columns by name before value-hashing).

Float discipline: aggregates over non-integer doubles are computed on
integer cents (``CAST(round(value*100) AS BIGINT)``) so sums are exact
and independent of partial-aggregation order, then divided back —
otherwise Spark's nondeterministic reduce order can flip low-order
bits vs DuckDB.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.queries.derive import derived_transcripts, with_transcripts
from ocr_spark.synth import CITY_IDS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


GEMMA_MARKER = "<start_of_turn>model\n"

# ===========================================================================
# Transcript kernels (derived transcripts; SURVEY.md §2.2-2.3)
# ===========================================================================

_MERGE_SQL = with_transcripts("""
SELECT conv_id,
       max(CASE WHEN role = 'system' THEN text END)
       || chr(10) || chr(10) ||
       max(CASE WHEN role = 'user' THEN text END) AS prompt,
       max(CASE WHEN role = 'assistant' THEN text END) AS completion
FROM transcripts
GROUP BY conv_id
ORDER BY conv_id
""")


def _merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 merge as conditional aggregation (utils.py:72-74).

    SCOPE: correct only on the 3-turn oracle shape (exactly one turn
    per role — ``max(CASE WHEN role=...)`` picks *the* turn).  The
    general k-turn merge lives in queries/multiturn.py
    (``p1_turn_merge_multiturn``: merge-into-FIRST-user via min-struct)
    and in the pipeline's grouped kernel, both of which handle any
    turn count."""
    t = derived_transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.concat(
            F.max(F.when(F.col("role") == "system", F.col("text"))),
            F.lit("\n\n"),
            F.max(F.when(F.col("role") == "user", F.col("text"))),
        ).alias("prompt"),
        F.max(F.when(F.col("role") == "assistant", F.col("text"))).alias("completion"),
    )


@_register("p1_turn_merge", _MERGE_SQL)
def p1_turn_merge(spark, sf_dir):
    """P1: merge system turn into user turn (utils.py:72-74)."""
    return _merged(spark, sf_dir).select("conv_id", "prompt", "completion")


_RENDER_EXPR_SQL = (
    "'<bos><start_of_turn>user' || chr(10) || prompt || '<end_of_turn>' || chr(10) || "
    "'<start_of_turn>model' || chr(10) || completion || '<end_of_turn>' || chr(10)"
)


def _rendered(spark, sf_dir) -> DataFrame:
    """X3 gemma render as string concat (train_cities.py:44-48)."""
    m = _merged(spark, sf_dir)
    return m.select(
        "conv_id",
        F.concat(
            F.lit("<bos><start_of_turn>user\n"),
            F.col("prompt"),
            F.lit("<end_of_turn>\n<start_of_turn>model\n"),
            F.col("completion"),
            F.lit("<end_of_turn>\n"),
        ).alias("rendered"),
    )


@_register(
    "x3_render",
    with_transcripts(f"""
SELECT conv_id, {_RENDER_EXPR_SQL} AS rendered
FROM (
  SELECT conv_id,
         max(CASE WHEN role='system' THEN text END) || chr(10) || chr(10) ||
         max(CASE WHEN role='user' THEN text END) AS prompt,
         max(CASE WHEN role='assistant' THEN text END) AS completion
  FROM transcripts GROUP BY conv_id
)
"""),
)
def x3_render(spark, sf_dir):
    """X3: deterministic chat-template render (train_cities.py:44-48)."""
    return _rendered(spark, sf_dir)


@_register(
    "x4_marker_split",
    with_transcripts(f"""
SELECT conv_id,
       split_part(rendered, '{GEMMA_MARKER.replace(chr(10), "' || chr(10) || '")}', 1)
         || '<start_of_turn>model' || chr(10) AS prompt_part,
       split_part(rendered, '{GEMMA_MARKER.replace(chr(10), "' || chr(10) || '")}', 2) AS completion_part
FROM (
  SELECT conv_id, {_RENDER_EXPR_SQL} AS rendered
  FROM (
    SELECT conv_id,
           max(CASE WHEN role='system' THEN text END) || chr(10) || chr(10) ||
           max(CASE WHEN role='user' THEN text END) AS prompt,
           max(CASE WHEN role='assistant' THEN text END) AS completion
    FROM transcripts GROUP BY conv_id
  )
)
"""),
)
def x4_marker_split(spark, sf_dir):
    """X4: prompt/completion split on the model marker
    (train_cities.py:51-57), marker re-appended to the prompt."""
    r = _rendered(spark, sf_dir)
    return r.select(
        "conv_id",
        F.concat(F.split_part(F.col("rendered"), F.lit(GEMMA_MARKER), F.lit(1)),
                 F.lit(GEMMA_MARKER)).alias("prompt_part"),
        F.split_part(F.col("rendered"), F.lit(GEMMA_MARKER), F.lit(2)).alias("completion_part"),
    )


@_register(
    "x2_extract_answer",
    with_transcripts(f"""
SELECT conv_id,
       nullif(regexp_extract(rendered, '<start_of_turn>model[^A-E]*([A-E])', 1), '') AS answer
FROM (
  SELECT conv_id, {_RENDER_EXPR_SQL} AS rendered
  FROM (
    SELECT conv_id,
           max(CASE WHEN role='system' THEN text END) || chr(10) || chr(10) ||
           max(CASE WHEN role='user' THEN text END) AS prompt,
           max(CASE WHEN role='assistant' THEN text END) AS completion
    FROM transcripts GROUP BY conv_id
  )
)
"""),
)
def x2_extract_answer(spark, sf_dir):
    """X2: first A-E letter after the model tag (utils.py:131-147),
    null when the tag or letter is absent (fallback counter case)."""
    r = _rendered(spark, sf_dir)
    return r.select(
        "conv_id",
        F.nullif(
            F.regexp_extract(F.col("rendered"), "<start_of_turn>model[^A-E]*([A-E])", 1),
            F.lit(""),
        ).alias("answer"),
    )


@_register(
    "x8_block_classify",
    with_transcripts("""
SELECT conv_id,
       CASE WHEN has_dir AND NOT has_dist THEN 'direction'
            WHEN has_dist AND NOT has_dir THEN 'distance'
            ELSE 'other' END AS block_class
FROM (
  SELECT conv_id,
         (text LIKE '% North%' OR text LIKE '% South%'
          OR text LIKE '% East%' OR text LIKE '% West%') AS has_dir,
         (ends_with(text,'km') OR ends_with(text,'ilometers')
          OR ends_with(text,'mi') OR ends_with(text,'iles')) AS has_dist
  FROM transcripts WHERE role = 'assistant'
)
"""),
)
def x8_block_classify(spark, sf_dir):
    """X8: direction-XOR-distance completion classification
    (train_cities.py:69-95)."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("role") == "assistant")
    has_dir = (
        F.col("text").contains(" North") | F.col("text").contains(" South")
        | F.col("text").contains(" East") | F.col("text").contains(" West")
    )
    has_dist = (
        F.col("text").endswith("km") | F.col("text").endswith("ilometers")
        | F.col("text").endswith("mi") | F.col("text").endswith("iles")
    )
    cls = (
        F.when(has_dir & ~has_dist, F.lit("direction"))
        .when(has_dist & ~has_dir, F.lit("distance"))
        .otherwise(F.lit("other"))
    )
    return t.select("conv_id", cls.alias("block_class"))


@_register(
    "x1_parse_imports",
    with_transcripts("""
SELECT DISTINCT conv_id, trim(piece) AS fn_name
FROM (
  SELECT conv_id, text, unnest(str_split(rest, ',')) AS piece
  FROM (
    SELECT conv_id, text,
           trim(str_split(line, 'from functions import')[2]) AS rest
    FROM (
      SELECT conv_id, text, unnest(str_split(text, chr(10))) AS line
      FROM transcripts WHERE role = 'user'
    )
    WHERE starts_with(line, 'from functions import')
  )
)
WHERE contains(text, piece || '(')
"""),
)
def x1_parse_imports(spark, sf_dir):
    """X1: parse used function names from import lines (utils.py:53-61),
    relational form: explode lines -> explode comma pieces -> usage
    filter with the reference's un-stripped-piece quirk -> distinct."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("role") == "user")
    lines = t.select("conv_id", "text", F.explode(F.split("text", "\n")).alias("line"))
    imps = lines.filter(F.col("line").startswith("from functions import")).select(
        "conv_id", "text",
        F.trim(F.element_at(F.split("line", "from functions import"), 2)).alias("rest"),
    )
    pieces = imps.select("conv_id", "text", F.explode(F.split("rest", ",")).alias("piece"))
    used = pieces.filter(F.col("text").contains(F.concat(F.col("piece"), F.lit("("))))
    return used.select("conv_id", F.trim("piece").alias("fn_name")).distinct()


@_register(
    "x6_span_count",
    with_transcripts("""
SELECT conv_id,
       CAST((length(text) - length(replace(text, 'City', ''))) / 4 AS BIGINT) AS n_occurrences,
       strpos(text, 'City') AS first_pos
FROM transcripts
WHERE role = 'user' AND contains(text, 'City')
"""),
)
def x6_span_count(spark, sf_dir):
    """X6 (relational form): non-overlapping occurrence count + first
    1-based char position of a key (char half of utils.py:160-196;
    exact char spans incl. overlaps are produced by the Arrow-UDF
    pipeline and pinned in pytest)."""
    t = derived_transcripts(spark, sf_dir).filter(
        (F.col("role") == "user") & F.col("text").contains("City")
    )
    n_occ = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("City"), F.lit("")))) / 4
    ).cast("long")
    return t.select(
        "conv_id",
        n_occ.alias("n_occurrences"),
        F.instr(F.col("text"), "City").cast("long").alias("first_pos"),
    )


_CITY_MAP = {f"City {c}": n for c, n in
             zip(CITY_IDS, ["Paris", "Sao Paulo", "Tokyo", "New York", "Lagos"])}

_SUB_SQL_EXPR = "text"
for _k, _v in _CITY_MAP.items():
    _SUB_SQL_EXPR = f"replace({_SUB_SQL_EXPR}, '{_k}', '{_v}')"


@_register(
    "p4_substitute",
    with_transcripts(f"""
SELECT conv_id, {_SUB_SQL_EXPR} AS real_name_text
FROM transcripts WHERE role = 'assistant'
"""),
)
def p4_substitute(spark, sf_dir):
    """P4: codename -> real-name substitution chain (utils.py:225-228)."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("role") == "assistant")
    col = F.col("text")
    for k, v in _CITY_MAP.items():
        col = F.replace(col, F.lit(k), F.lit(v))
    return t.select("conv_id", col.alias("real_name_text"))


@_register(
    "x9_regex_field",
    with_transcripts(r"""
SELECT conv_id,
       nullif(regexp_extract(text, 'Which option correctly describes (\w+)', 1), '') AS entity
FROM transcripts WHERE role = 'user'
"""),
)
def x9_regex_field(spark, sf_dir):
    """X9: regex field extraction (act_patch_oli.py:486-494)."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("role") == "user")
    return t.select(
        "conv_id",
        F.nullif(
            F.regexp_extract(F.col("text"), r"Which option correctly describes (\w+)", 1),
            F.lit(""),
        ).alias("entity"),
    )


@_register(
    "p10_sanitize",
    with_transcripts(r"""
SELECT conv_id, replace(replace(text, chr(10), '\n'), ' ', '\_') AS sanitized
FROM transcripts WHERE role = 'user'
"""),
)
def p10_sanitize(spark, sf_dir):
    """P10: whitespace sanitization (train_cities.py:184-185)."""
    t = derived_transcripts(spark, sf_dir).filter(F.col("role") == "user")
    col = F.replace(F.col("text"), F.lit("\n"), F.lit("\\n"))
    col = F.replace(col, F.lit(" "), F.lit("\\_"))
    return t.select("conv_id", col.alias("sanitized"))


# ===========================================================================
# Joins / set ops (SURVEY.md §2.4)
# ===========================================================================

@_register(
    "j1_broadcast_lookup",
    """
SELECT r_name, count(*) AS n_customers, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def j1_broadcast_lookup(spark, sf_dir):
    """J1: dict-lookup as broadcast hash join (utils.py:25-45 analog)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double") / 100.0
         ).alias("total_acctbal"),
    )


@_register(
    "j2_contains_join",
    """
SELECT w AS word, count(*) AS n_docs
FROM documents
CROSS JOIN (VALUES ('spark'), ('vector'), ('stream'), ('window'), ('merge')) AS t(w)
WHERE contains(text, w)
GROUP BY w
""",
)
def j2_contains_join(spark, sf_dir):
    """J2: substring-membership theta join (utils.py:105-107) — equi-join
    impossible, broadcast nested-loop with a contains predicate."""
    docs = _t(spark, sf_dir, "documents")
    words = spark.createDataFrame(
        [("spark",), ("vector",), ("stream",), ("window",), ("merge",)], ["word"]
    )
    return (
        docs.crossJoin(F.broadcast(words))
        .filter(F.col("text").contains(F.col("word")))
        .groupBy("word")
        .agg(F.count("*").alias("n_docs"))
    )


@_register(
    "j4_cross_expand",
    """
SELECT t.tpl AS question_template, n_name,
       replace(t.tpl, '{city}', n_name) AS question
FROM nation
CROSS JOIN (VALUES ('What is the main landmark of {city}?'),
                   ('What cuisine is {city} known for?'),
                   ('Which river runs through {city}?')) AS t(tpl)
""",
)
def j4_cross_expand(spark, sf_dir):
    """J4: cartesian template expansion (create_movie_ds.py:76-90,
    train_cities_steering.py:261-285)."""
    nation = _t(spark, sf_dir, "nation")
    tpls = spark.createDataFrame(
        [("What is the main landmark of {city}?",),
         ("What cuisine is {city} known for?",),
         ("Which river runs through {city}?",)],
        ["question_template"],
    )
    return (
        nation.crossJoin(F.broadcast(tpls)).select(
            "question_template",
            "n_name",
            F.replace(
                F.col("question_template"), F.lit("{city}"), F.col("n_name")
            ).alias("question"),
        )
    )


@_register(
    "j5_union",
    """
SELECT c_custkey AS key, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
UNION ALL
SELECT s_suppkey AS key, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9000
""",
)
def j5_union(spark, sf_dir):
    """J5: union of two query branches (create_movie_ds.py:122)."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    a = customer.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("kind"))
    b = supplier.filter(F.col("s_acctbal") > 9000).select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("kind"))
    return a.unionByName(b)


@_register(
    "j6_anti_join",
    """
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def j6_anti_join(spark, sf_dir):
    """J6: set difference (train_cities.py:123-124) as a left-anti join."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


@_register(
    "j7_dedup",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def j7_dedup(spark, sf_dir):
    """J7: dedup (utils.py:54-61 set-accumulation analog)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ===========================================================================
# Aggregations (SURVEY.md §2.5)
# ===========================================================================

@_register(
    "a1_grouped_accuracy",
    """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       count(*) AS n_total,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accuracy
FROM events GROUP BY user_id
""",
)
def a1_grouped_accuracy(spark, sf_dir):
    """A1: per-key [n_correct, n_total] -> ratio
    (train_functions_steering.py:461-495 score_dict)."""
    events = _t(spark, sf_dir, "events")
    correct = F.when(F.col("event_type") == "click", 1).otherwise(0)
    return events.groupBy("user_id").agg(
        F.sum(correct).alias("n_correct"),
        F.count("*").alias("n_total"),
        (F.sum(correct).cast("double") / F.count("*")).alias("accuracy"),
    )


@_register(
    "a2_rollup",
    """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def a2_rollup(spark, sf_dir):
    """A2: two-level grouped metrics + rollup
    (train_cities_steering.py:179-237 per-(city,category) counters)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100.0
         ).alias("total_price"),
    ).select(
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("orderstatus"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("orderpriority"),
        "n",
        "total_price",
    )


@_register(
    "a5_topk",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def a5_topk(spark, sf_dir):
    """A5: global top-k (logits.topk analog, utils.py:333-340) —
    sort-limit compiles to TakeOrderedAndProject, no full sort."""
    orders = _t(spark, sf_dir, "orders")
    return orders.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(10).select(
        "o_orderkey", "o_totalprice")


@_register(
    "a5_topk_per_group",
    """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3
""",
)
def a5_topk_per_group(spark, sf_dir):
    """A5 per-group variant: window row_number <= k
    (kl.py:528-537 top-k per prompt)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


@_register(
    "a6_rolling_mean",
    """
SELECT user_id, event_id,
       CAST(sum(cents) OVER w AS DOUBLE) / count(*) OVER w / 100.0 AS rolling_avg
FROM (SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
""",
)
def a6_rolling_mean(spark, sf_dir):
    """A6: window_size=15 rolling mean (analyse_vectors.py:62-70),
    computed on integer cents for bit-exact cross-engine parity."""
    events = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-14, 0)
    return events.select(
        "user_id", "event_id",
        (F.sum(cents).over(w).cast("double") / F.count("*").over(w) / 100.0
         ).alias("rolling_avg"),
    )


@_register(
    "a7_cumsum",
    """
SELECT user_id, event_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
       AS cum_value
FROM events
""",
)
def a7_cumsum(spark, sf_dir):
    """A7: cumulative sum (interpolate_eval.py:181-186)."""
    events = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "user_id", "event_id",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("cum_value"),
    )


@_register(
    "a14_shift_compare",
    """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = prev_type THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
       count(*) AS n
FROM (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
  FROM events
) GROUP BY user_id
""",
)
def a14_shift_compare(spark, sf_dir):
    """A14: shift-by-one sequence compare (pred[:-1] == labels[1:],
    train_functions_steering.py:438-441) as a lag window."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    shifted = events.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
    return shifted.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == F.col("prev_type"), 1).otherwise(0)
              ).alias("n_repeat"),
        F.count("*").alias("n"),
    )


# ===========================================================================
# Sampling / splits (SURVEY.md §2.6)
# ===========================================================================

@_register(
    "w2_seeded_split",
    """
SELECT CASE WHEN (o_orderkey * 2654435761) % 1000 < 25 THEN 'holdout' ELSE 'train' END AS split,
       count(*) AS n
FROM orders GROUP BY 1
""",
)
def w2_seeded_split(spark, sf_dir):
    """W2: deterministic 2.5% holdout (train_test_split seed=42,
    train_functions_steering.py:250) — key-derived hash instead of RNG
    so the split is identical at any partition count."""
    orders = _t(spark, sf_dir, "orders")
    split = F.when(
        (F.col("o_orderkey") * 2654435761) % 1000 < 25, F.lit("holdout")
    ).otherwise(F.lit("train"))
    return orders.select(split.alias("split")).groupBy("split").agg(
        F.count("*").alias("n"))


# ===========================================================================
# Tokenizer-backed queries with closed-form oracles.  The tokenizer's
# piece segmentation (_PIECE_RE, kernels/tokenizer.py:62-69) is a
# char-class tiling, so the COUNT is regex-expressible in DuckDB's RE2:
# both engines use leftmost-first alternation, RE2's `$`/default `.`
# match Python's `\Z`/non-newline, and the only divergences (`\d`/`\s`
# are unicode-wide in Python, ASCII in RE2) cannot fire on the derived
# corpus (verified count-equal on every sf0.01 turn).  Byte-level id /
# offset semantics stay pytest-pinned (tests/test_kernels.py).
# ===========================================================================

#: DuckDB RE2 mirror of kernels.tokenizer._PIECE_RE ('' = escaped quote).
_PIECE_RE_SQL = (
    "<pad>|<eos>|<bos>|<unk>|<start_of_turn>|<end_of_turn>"
    "| ?[A-Za-zÀ-ɏ'']+|[0-9]|\\n| ?[^\\sA-Za-zÀ-ɏ0-9'']+|."
)


def _sql_n_tokens(col: str) -> str:
    return f"CAST(len(regexp_extract_all({col}, '{_PIECE_RE_SQL}')) AS INTEGER)"


_PIPELINE_EXTRACT_SQL = with_transcripts(f"""
, spans AS (
  SELECT conv_id, turn_idx, count(*) AS n_spans
  FROM (
    SELECT conv_id, turn_idx, text, key,
           unnest(generate_series(1, length(text))) AS i
    FROM (
      SELECT t.conv_id, t.turn_idx, t.text, k.key
      FROM transcripts t CROSS JOIN (VALUES {{VOCAB}}) k(key)
    )
  )
  WHERE substr(text, CAST(i AS INTEGER), length(key)) = key
  GROUP BY conv_id, turn_idx
),
cls AS (
  SELECT conv_id, turn_idx, role, text,
         (role = 'assistant') AS is_asst,
         regexp_matches(text, ' North| South| East| West') AS has_dir,
         regexp_matches(text, '(km|ilometers|mi|iles)$') AS has_dist,
         nullif(regexp_extract(text, '([A-E])', 1), '') AS ans
  FROM transcripts
)
SELECT c.conv_id, c.turn_idx, c.role, c.text AS clean_text,
       CASE WHEN is_asst AND (has_dir <> has_dist) AND has_dir THEN 'direction'
            WHEN is_asst AND (has_dir <> has_dist) AND has_dist THEN 'distance'
            ELSE 'other' END AS block_class,
       CASE WHEN is_asst THEN ans END AS answer,
       CASE WHEN is_asst AND NOT (has_dir <> has_dist) AND ans IS NULL
            THEN 'fallback' ELSE 'ok' END AS status,
       {_sql_n_tokens('c.text')} AS n_tokens,
       CAST(coalesce(s.n_spans, 0) AS INTEGER) AS n_spans
FROM cls c LEFT JOIN spans s ON s.conv_id = c.conv_id AND s.turn_idx = c.turn_idx
""")


@_register("pipeline_extract")
def pipeline_extract(spark, sf_dir):
    """Full extraction pipeline (X3+X4+X2+X6+X8 composed): per-turn
    clean text, char spans, block class, status, token counts.

    The oracle is CLOSED-FORM per turn (the kernel reads its
    completion-exists predicate only on assistant rows, where it is
    true): block classification = direction-XOR-distance regexes (train_cities.py:69-95), answer =
    first A-E char on assistant turns (utils.py:131-147), status
    mirrors the kernel's fallback rule, n_tokens the piece-count regex,
    n_spans the same position-scan as the x6_char_spans oracle (all
    roles).  Spans themselves stay struct-typed Spark-side; the oracle
    checks their count.  (ORACLES entry filled at import bottom.)"""
    from ocr_spark.pipeline import extract_conversations

    t = derived_transcripts(spark, sf_dir)
    ex = extract_conversations(t)
    return ex.select(
        "conv_id", "turn_idx", "role", "clean_text", "block_class",
        "answer", "status", "n_tokens", F.size("char_spans").alias("n_spans"),
    )


@_register(
    "x13_token_count",
    with_transcripts(f"""
SELECT conv_id, turn_idx, {_sql_n_tokens('text')} AS n_tokens
FROM transcripts
"""),
)
def x13_token_count(spark, sf_dir):
    """X13: deterministic tokenizer counts per turn (Arrow UDF over
    count_pieces_batch; ``len(encode(t)) == len(_PIECE_RE.findall(t))``
    by construction, tokenizer.py count_tokens).  Oracle: the RE2
    mirror of _PIECE_RE — see the section comment above for why the
    counts are bit-equal on this corpus."""
    from ocr_spark.pipeline import token_count_udf

    t = derived_transcripts(spark, sf_dir)
    return t.select("conv_id", "turn_idx", token_count_udf()(F.col("text")).alias("n_tokens"))


def _vocab_values_sql() -> str:
    from ocr_spark.pipeline import DEFAULT_VOCAB

    return ", ".join(f"('{k}')" for k in DEFAULT_VOCAB)


_X6_SPANS_SQL = with_transcripts("""
SELECT conv_id, turn_idx, key,
       CAST(i - 1 AS BIGINT) AS span_start,
       CAST(i - 1 + length(key) AS BIGINT) AS span_end
FROM (
  SELECT conv_id, turn_idx, text, key,
         unnest(generate_series(1, length(text))) AS i
  FROM (
    SELECT t.conv_id, t.turn_idx, t.text, k.key
    FROM transcripts t
    CROSS JOIN (VALUES {VOCAB}) k(key)
    WHERE t.role <> 'system'
  )
)
WHERE substr(text, CAST(i AS INTEGER), length(key)) = key
""")


@_register("x6_char_spans")
def x6_char_spans(spark, sf_dir):
    """X6 exact form: every vocab-key occurrence with char offsets,
    overlaps included (utils.py:160-196).  One row per span; the
    Arrow-UDF find loop is oracle-checked against a DuckDB
    position-scan (ORACLES entry filled at import bottom)."""
    from ocr_spark.pipeline import span_udf, DEFAULT_VOCAB

    t = derived_transcripts(spark, sf_dir).filter(F.col("role") != "system")
    spans = t.select(
        "conv_id", "turn_idx",
        F.explode(span_udf(DEFAULT_VOCAB)(F.col("text"))).alias("span"),
    )
    return spans.select(
        "conv_id", "turn_idx",
        F.col("span.key").alias("key"),
        F.col("span.start").cast("long").alias("span_start"),
        F.col("span.end").cast("long").alias("span_end"),
    )


ORACLES["x6_char_spans"] = _X6_SPANS_SQL.replace("{VOCAB}", _vocab_values_sql())
ORACLES["pipeline_extract"] = _PIPELINE_EXTRACT_SQL.replace("{VOCAB}", _vocab_values_sql())


@_register(
    "w4_stride_sample",
    """
SELECT event_id FROM (
  SELECT event_id, row_number() OVER (ORDER BY event_id) AS rn FROM events
) WHERE rn % 50 = 1
""",
)
def w4_stride_sample(spark, sf_dir):
    """W4: evenly-spaced stride sampling (interpolate_eval.py:61-67).

    Partition-safe global rank: a naive ``row_number() OVER (ORDER BY
    event_id)`` funnels every row through ONE task.  Instead the key
    space is cut into ordered coarse buckets (``floor(event_id/1024)``),
    per-bucket counts roll into cumulative offsets (a window over the
    tiny bucket-count table only), and the global rank is
    ``offset + row_number within bucket`` — every big window here is
    partitioned, so the plan scales with input splits.
    """
    events = _t(spark, sf_dir, "events").select("event_id")
    b = events.withColumn("bucket", F.floor(F.col("event_id") / 1024))
    counts = b.groupBy("bucket").agg(F.count("*").alias("n"))
    offsets = counts.withColumn(
        "offset",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bucket", "offset")
    ranked = b.join(F.broadcast(offsets), "bucket").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("bucket").orderBy("event_id"))
        + F.col("offset"),
    )
    return ranked.filter(F.col("rn") % 50 == 1).select("event_id")
