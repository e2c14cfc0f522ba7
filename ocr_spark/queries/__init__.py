"""Driver-facing query catalog: Spark queries + DuckDB oracle SQL."""

from ocr_spark.queries.catalog import ORACLES, QUERIES
import ocr_spark.queries.pipeline_ops  # noqa: F401  (registers into QUERIES/ORACLES)
import ocr_spark.queries.catalog2  # noqa: F401
import ocr_spark.queries.multimodal  # noqa: F401
import ocr_spark.queries.extraction_docs  # noqa: F401
import ocr_spark.queries.multiturn  # noqa: F401
import ocr_spark.queries.ngram_ops  # noqa: F401
import ocr_spark.queries.agent_ops  # noqa: F401
import ocr_spark.queries.ccnet_ops  # noqa: F401
import ocr_spark.queries.bpe_ops  # noqa: F401
import ocr_spark.queries.corpus_ops  # noqa: F401

# Driver-sample ordering: the driver's correctness gate checks only the
# first 50 catalog entries, so the queries whose implementation or
# executed plan changed since the growth seed (CHANGES.md) come first.
# Every other entry follows in registration order; pytest oracle parity
# (tests/test_oracle_parity.py) still checks all of them.
_DRIVER_PRIORITY = [
    "pipeline_extract", "x8_block_classify", "x6_char_spans", "x13_token_count",
    "w5_batch_pad", "dedup_clusters", "dedup_cluster_sizes",
]


def _reorder_in_place(d: dict) -> None:
    """Re-key ``d`` itself into priority-then-registration order.

    In place, NOT a rebind: the package-level QUERIES/ORACLES are the
    same objects ``catalog._register`` mutates, so a module registered
    after this one (or lazily in a test) still lands in the dict the
    driver consumes instead of silently diverging into a second copy.
    """
    ordered = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    ordered.update({k: v for k, v in d.items() if k not in ordered})
    d.clear()
    d.update(ordered)


_missing = [k for k in _DRIVER_PRIORITY if k not in QUERIES]
assert not _missing, f"driver-priority names not in catalog: {_missing}"
_reorder_in_place(QUERIES)
_reorder_in_place(ORACLES)

__all__ = ["QUERIES", "ORACLES"]
