"""connected_components_star correctness: labels, per-round sizes and
the loud failure when no fixpoint is reached.  It is the catalog's one
connected-components algorithm (dedup_clusters and dedup_cluster_sizes
run on it; their oracle parity is in tests/test_oracle_parity.py)."""

import pytest

from ocr_spark.queries.pipeline_ops import connected_components_star


def _union_find_minlabels(edges):
    """Brute-force reference: component-min label per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d in edges:
        union(s, d)
    return {x: find(x) for x in parent}


def _path(spark):
    return spark.createDataFrame([(i, i + 1) for i in range(40)], "s long, d long")


def test_star_collapses_long_path(spark):
    """A 41-node path (diameter 40) is the case label propagation
    needs 40 rounds for; star contraction must converge inside its
    round cap (O(log n)) and label every node with the path min.  At
    the fixpoint every non-minimum node keeps one edge, to the min."""
    stats = {}
    out = connected_components_star(
        _path(spark), max_rounds=10, stats=stats
    ).toPandas()
    assert set(out["doc_id"]) == set(range(41))
    assert set(out["cluster_id"]) == {0}
    assert stats["edges"][0] == 40
    assert stats["edges"][-1] == 41 - 1
    assert len(stats["edges"]) == stats["rounds"] + 1


def test_star_raises_without_fixpoint(spark):
    """One round pair cannot contract the 41-node path: the loop must
    raise rather than return unconverged labels."""
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(_path(spark), max_rounds=1)


def test_star_matches_union_find_on_mixed_graph(spark):
    """Deterministic pseudo-random graph (multiple components, cycles,
    chains): labels must equal the union-find component minimum."""
    raw = [((k * 7919) % 60, (k * 104729) % 60) for k in range(45)]
    edges = [(s, d) for s, d in raw if s != d]
    want = _union_find_minlabels(edges)
    stats = {}
    out = connected_components_star(
        spark.createDataFrame(edges, "s long, d long"), stats=stats
    ).toPandas()
    got = dict(zip(out["doc_id"], out["cluster_id"]))
    assert got == want
    n_components = len(set(want.values()))
    assert stats["edges"][-1] == len(want) - n_components
    assert len(stats["edges"]) == stats["rounds"] + 1


def test_pagerank_large_doc_ids_no_int64_wrap(spark, tmp_path):
    """link_pagerank's quadratic link map must reduce doc_id mod n
    BEFORE squaring: doc_id^2 overflows int64 past ~3e9 and Spark
    (ANSI off) silently wraps to negative dst values that join
    nothing, while DuckDB promotes to HUGEINT — engine divergence on
    exactly the large-id corpora the edge suite advertises.  Pin
    Spark == DuckDB on ids up to ~9.9e10 AND that every dst is a real
    node index (no wrapped negatives)."""
    import duckdb
    import pandas as pd

    from ocr_spark.queries import ORACLES, QUERIES

    big_ids = [0, 3, 2_000_000_011, 98_765_432_101, 9_876_543_210_987]
    d = str(tmp_path / "bigids")
    docs = pd.DataFrame(
        [(i, "en", f"doc {i}", "edge", 6) for i in big_ids],
        columns=["doc_id", "lang", "text", "source", "n_chars"],
    )
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{d}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    got = QUERIES["link_pagerank"](spark, d).toPandas()
    want = con.execute(ORACLES["link_pagerank"]).df()
    con.close()
    assert sorted(zip(got["doc_id"], got["score"])) == sorted(
        zip(want["doc_id"], want["score"].astype("int64"))
    )
    # and the two n-modular maps stay in-range (0 <= dst < n) — a wrap
    # would show as a negative dst.  (The mod-97 hub map intentionally
    # targets a fixed 97-node set; dsts >= n join nothing, identically
    # in both engines.)
    from ocr_spark.queries.extraction_docs import _PR_DSTS
    from pyspark.sql import functions as F

    docs_df = spark.read.parquet(f"{d}/documents.parquet").select("doc_id")
    n = docs_df.count()
    for tmpl in _PR_DSTS[:2]:
        dsts = docs_df.select(
            F.expr(tmpl.format(n=n)).alias("dst")
        ).toPandas()["dst"]
        assert (dsts >= 0).all() and (dsts < n).all(), tmpl
