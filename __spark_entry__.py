"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction job; ``queries()`` /
``oracle_sql()`` expose the operator catalog (SURVEY.md §2) for the
driver's DuckDB cross-check at sf=0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full extraction pipeline over transcripts derived from the sf0.001
    documents table: per-turn extraction with no shuffle (native
    classify + answer extraction, then the span and token-count Arrow
    UDFs), then aggregate per-role turn counts, mean extracted-text
    length, and fallback counters.
    """
    from pyspark.sql import functions as F

    from ocr_spark.deploy import ensure_shipped
    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.queries.derive import derived_transcripts

    ensure_shipped(spark)
    t = derived_transcripts(spark, "/root/testdata/sf0.001")
    extracted = extract_conversations(t)
    return (
        extracted.groupBy("role", "block_class")
        .agg(
            F.count("*").alias("n_turns"),
            F.round(F.avg(F.length("clean_text")), 4).alias("mean_clean_len"),
            F.sum(F.when(F.col("status") == "fallback", 1).otherwise(0)).alias("n_fallback"),
            F.sum(F.size("char_spans")).alias("n_spans"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("role", "block_class")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable ships the package to executors first (--py-files
    equivalent) so pandas-UDF closures deserialize regardless of the
    driver process's working directory.
    """
    from ocr_spark.deploy import ensure_shipped
    from ocr_spark.queries import QUERIES

    def _wrap(fn):
        def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)
            return fn(spark, sf_dir)

        inner.__doc__ = fn.__doc__
        inner.__name__ = getattr(fn, "__name__", "query")
        return inner

    return {k: _wrap(v) for k, v in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect oracle SQL per query (omitted entries get the
    driver's weaker rows-only check — reserved for genuinely
    non-SQL-expressible kernels like the tokenizer pipeline)."""
    from ocr_spark.queries import ORACLES

    return dict(ORACLES)
