"""Sources and sinks (SURVEY.md §2.1).

The reference ingests conversations as JSONL files of
``{"messages": [{"role": ..., "content": ...}, ...]}`` (utils.py:63-80,
sample at data__/locations/valid.jsonl) and emits generated datasets
the same way (nlptasks/personality.py:191-194).  This module bridges
that wire shape to the engine's canonical per-turn table
``(conv_id, turn_idx, role, text, tool, ts)`` with JVM-only operators
— a declared nested schema, ``posexplode`` for stable turn indices —
so Catalyst prunes and pushes down into the scan; no Python runs at
ingest.

CSV scans (S3) mirror the reference's column-set assertion
(train_cities_steering.py:170); JSONL sinks (S5) write one object per
line.  Checkpoint/metrics/config sinks (S6-S8) live in lineage.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

#: Wire schema of one JSONL line (utils.py:67: json.loads(line)).
CONVERSATION_JSONL_SCHEMA = StructType(
    [
        StructField(
            "messages",
            ArrayType(
                StructType(
                    [
                        StructField("role", StringType()),
                        StructField("content", StringType()),
                    ]
                )
            ),
        )
    ]
)


def load_conversations_jsonl(
    spark: SparkSession, path: str, conv_prefix: str = "conv"
) -> DataFrame:
    """S1: JSONL conversation scan -> canonical per-turn table.

    Reference load_train_dataset (utils.py:63-80) reads line-by-line
    and keeps list order; here the line's position in ``messages``
    becomes ``turn_idx`` via ``posexplode`` (stable turn ordering, W1),
    and the conversation id derives from the file name + line offset —
    deterministic under re-reads.  ``tool``/``ts`` are absent on this
    wire shape and fill with nulls, matching the canonical schema.
    """
    raw = (
        spark.read.schema(CONVERSATION_JSONL_SCHEMA)
        .json(path)
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "_line",
            # monotonically_increasing_id encodes (partition, offset) and
            # file splits scan in byte order, so this reproduces the
            # reference's per-file line enumeration deterministically for
            # a fixed file layout.
            F.row_number().over(
                Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
            ),
        )
    )
    turns = raw.select(
        F.concat(
            F.lit(conv_prefix),
            # Fold the file identity into the id: _line restarts at 1 per
            # file, so a directory of part files (including this module's
            # own multi-part JSONL output) would otherwise collide on
            # 'conv00000000' and groupBy(conv_id) would silently merge
            # distinct conversations.
            F.format_string("%016x", F.xxhash64("_file")),
            F.format_string("%08d", F.col("_line") - 1),
        ).alias("conv_id"),
        F.posexplode("messages").alias("turn_idx", "msg"),
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("msg.role").alias("role"),
        F.col("msg.content").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


def write_conversations_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: canonical per-turn table -> JSONL of {"messages": [...]}.

    One JSON object per conversation, turns restored to list order
    (nlptasks/personality.py:191-194 writes the same shape).
    """
    nested = (
        df.groupBy("conv_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("turn_idx", "role", "text"))),
                lambda s: F.struct(s["role"].alias("role"), s["text"].alias("content")),
            ).alias("messages")
        )
        .select("messages")
    )
    nested.write.mode(mode).json(path)


def read_csv_checked(
    spark: SparkSession, path: str, required_columns: list[str]
) -> DataFrame:
    """S3: CSV scan with the reference's column-set assertion
    (train_cities_steering.py:168-171 asserts the expected columns)."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    missing = set(required_columns) - set(df.columns)
    if missing:
        raise ValueError(f"CSV {path} missing required columns: {sorted(missing)}")
    return df


#: Declared schema of one feature-explanation record (S9).  The
#: reference's API export is a JSON array of objects with these fields
#: (kl.py:458-467); extra fields are pruned by the declared schema.
FEATURE_EXPLANATION_SCHEMA = StructType(
    [
        StructField("modelId", StringType()),
        StructField("layer", StringType()),
        StructField("index", StringType()),
        StructField("description", StringType()),
    ]
)


def load_feature_explanations(spark: SparkSession, source: str) -> DataFrame:
    """S9: remote-API explanation source -> small dimension DataFrame.

    Reference kl.py:458-467: ``requests.get(url).json()`` ->
    ``pd.DataFrame`` -> rename ``index`` to ``feature`` -> lowercase
    ``description``.  Modeled here as a connector producing the same
    dimension table: a local path (JSON / JSONL export of the same
    records) reads through the declared schema; an ``http(s)://``
    source fetches once on the driver (gated import — the result is a
    small dimension, never distributed-scanned) and parallelizes the
    records.  Consumers broadcast-join it (J1/J3 — e.g. the
    description-contains theta-join, kl.py:473-475)."""
    if source.startswith(("http://", "https://")):
        try:
            import requests  # noqa: PLC0415 — optional, network-gated
        except ImportError as e:  # pragma: no cover - env without requests
            raise RuntimeError(
                "remote explanation source needs the 'requests' package; "
                "pass a local JSON export instead"
            ) from e
        data = requests.get(
            source, headers={"Content-Type": "application/json"}, timeout=60
        ).json()
        raw = spark.createDataFrame(
            [
                tuple(str(r[k]) if r.get(k) is not None else None
                      for k in ("modelId", "layer", "index", "description"))
                for r in data
            ],
            FEATURE_EXPLANATION_SCHEMA,
        )
    else:
        raw = spark.read.schema(FEATURE_EXPLANATION_SCHEMA).json(source)
    return raw.select(
        "modelId",
        "layer",
        F.col("index").alias("feature"),
        F.lower(F.col("description")).alias("description"),
    )


def load_var_dict(path: str) -> dict:
    """S2: YAML config scan (utils.py:46-51 load_var_dict reads
    ``dataset.var_dict``).  Driver-side: configs are not data; the
    caller broadcasts the dict (or folds it into map literals) rather
    than shipping a DataFrame."""
    import yaml

    with open(path) as f:
        cfg = yaml.safe_load(f)
    return cfg["dataset"]["var_dict"]
