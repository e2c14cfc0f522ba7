"""Plan-shape regression guards (SURVEY.md §4 discipline).

These assert the *physical plan* properties the 100 TB design depends
on — they catch a silent regression to a single-task window, a lost
broadcast, or an extra shuffle long before any timing would.
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from ocr_spark.queries import QUERIES
from tests.conftest import SF_DIR_ORACLE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()  # simple mode keeps node arguments inline
    return buf.getvalue()


def test_w4_stride_has_no_big_single_partition_exchange(spark):
    """The global rank must never funnel the events table through one
    task: the only SinglePartition exchange allowed is the tiny
    per-bucket-count aggregate (rows == #buckets), which sits under the
    BroadcastExchange side of the offsets join."""
    plan = _plan(QUERIES["w4_stride_sample"](spark, SF_DIR_ORACLE))
    assert plan.count("Exchange SinglePartition") <= 1
    assert "BroadcastExchange" in plan
    # the big window is partitioned by bucket, not global
    assert "row_number" in plan


def test_rendered_mt_is_single_shuffle(spark):
    """x3_render_multiturn: one groupBy(conv_id) shuffle, no re-join of
    the turn table (which would shuffle the turns a second time)."""
    from ocr_spark.queries.multiturn import _rendered_mt

    plan = _plan(_rendered_mt(spark, SF_DIR_ORACLE))
    # exactly one hash-partitioning exchange (the conv_id groupBy)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_flagship_pipeline_is_single_shuffle(spark):
    """extract_conversations is zero-shuffle: scan, native classify and
    ONE ArrowEvalPython stage (span + token UDFs) — no conv_id exchange,
    no mapInPandas, no join or union branch."""
    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.synth import transcripts

    plan = _plan(extract_conversations(transcripts(spark, 50, seed=42)))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    for node in ("MapInPandas", "Join", "Union"):
        assert node not in plan


def test_flagship_guard_resolves_to_cheapest_plan(spark):
    """Building the flagship plan starts no Spark job: no pre-pass, no
    driver collect."""
    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.synth import transcripts

    t = transcripts(spark, 50, seed=42)
    sc = spark.sparkContext
    group = "flagship-guard-build"
    sc.setJobGroup(group, group)
    try:
        _plan(extract_conversations(t))
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_flagship_plan_build_py4j_round_trips(spark, monkeypatch):
    """Building extract_conversations sends about 215 py4j commands to
    the JVM.  With PySpark's per-Column call-site capture on
    (``spark.python.sql.dataFrameDebugging.enabled``, the PySpark
    default) the same build sends about 675: each Column op adds a
    Python stack walk and 4-5 round trips.  Memory commands ("m\\n…")
    are not counted: py4j's finalizer thread sends them at
    nondeterministic times."""
    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.synth import transcripts

    t = transcripts(spark, 50, seed=42)
    extract_conversations(t)  # first build also resolves one-time lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    extract_conversations(t)
    monkeypatch.undo()
    n = sum(1 for c in sent if not c.startswith("m\n"))
    assert 0 < n <= 240, n


def test_errors_keep_condition_but_not_python_call_site(spark):
    """The cost of the call-site capture being off: an error still
    carries its condition and a DataFrame query context naming the
    operator, but the context's call site is a JVM frame, not this
    file's line."""
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException) as info:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert info.value.getCondition() == "DIVIDE_BY_ZERO"
    contexts = info.value.getQueryContext()
    assert [c.fragment() for c in contexts] == ["divide"]
    assert not any(__file__ in c.callSite() for c in contexts)


def test_flagship_runs_one_scan_task_per_core_on_small_files(spark, tmp_path):
    """16 small input files pack into at most one scan task per core:
    the zero-shuffle flagship is one stage, so its task count is the
    scan's split count, and each task costs fixed Python-worker time."""
    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.synth import transcripts

    d = str(tmp_path / "turns")
    transcripts(spark, 400, seed=42).repartition(16).write.parquet(d)
    assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 16
    # the session fixture runs local[8]
    assert extract_conversations(spark.read.parquet(d)).rdd.getNumPartitions() <= 8


def test_batch_packing_prefix_sum_is_bucketed(spark):
    """The stratum-wide prefix sum must run per (lang,bucket), with the
    stratum offsets broadcast — a plain per-lang window would funnel a
    whole language through one task."""
    plan = _plan(QUERIES["batch_packing"](spark, SF_DIR_ORACLE))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastExchange" in plan


def test_stratified_sample_has_window_group_limit(spark):
    """Top-k per low-cardinality stratum is safe only because Catalyst
    pushes a WindowGroupLimit below the exchange (each map partition
    pre-trims to k rows per stratum) — guard that the plan keeps it."""
    plan = _plan(QUERIES["stratified_sample"](spark, SF_DIR_ORACLE))
    assert "WindowGroupLimit" in plan


def test_broadcast_lookup_joins_are_broadcast(spark):
    """j1: the 5-row dimension must come in via BroadcastHashJoin, never
    a shuffle join."""
    plan = _plan(QUERIES["j1_broadcast_lookup"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_native_path_has_no_exchange_or_python(spark):
    """classify_turns: zero shuffles, zero Python — pure whole-stage
    codegen over the scan (the 10^12-turn path)."""
    from ocr_spark.pipeline import classify_turns
    from ocr_spark.synth import transcripts

    plan = _plan(classify_turns(transcripts(spark, 50, seed=42)))
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_classify_predicates_evaluated_once(spark):
    """classify_turns' ``status`` reads the computed ``block_class`` and
    ``answer`` columns: its plan holds no more contains / endswith /
    regexp calls than one that selects only those two columns (a
    ``status`` that restates them doubles every count)."""
    from ocr_spark.pipeline import classify_turns
    from ocr_spark.synth import transcripts

    c = classify_turns(transcripts(spark, 50, seed=42))
    full, two = _plan(c), _plan(c.drop("status"))
    for call in ("Contains(", "EndsWith(", "regexp_"):
        assert 0 < full.count(call) <= two.count(call), call


def test_simhash_is_one_aggregation_no_crossjoin(spark):
    """dedup_simhash (round 3): the 16 bit votes are conditional
    aggregates in ONE groupBy(doc_id) — the words x bits crossJoin of
    round 2 pushed 16x the word rows through the shuffle.  Guard that
    no cross/nested-loop join reappears and the shuffle count stays at
    the two the algorithm needs (distinct words, per-doc agg)."""
    plan = _plan(QUERIES["dedup_simhash"](spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_simhash_hamming_pairs_is_banded_equi_join(spark):
    """simhash_hamming_pairs: the candidate join must be an equi-join
    on (band, nibble) — an all-pairs cross join is the oracle's
    privilege, never the engine's."""
    plan = _plan(QUERIES["simhash_hamming_pairs"](spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_jaccard_est_joins_are_equi(spark):
    """minhash_jaccard_est: candidate pairs equi-join the signature
    table on doc ids — fingerprint-sized sides, equi predicates only."""
    plan = _plan(QUERIES["minhash_jaccard_est"](spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: a 2-column projection
    must not read the whole documents schema."""
    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    plan = _plan(docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"))
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def _final_plan(df) -> str:
    """Execute, then return ONLY the AQE final-plan section.

    Exchange reuse is an AQE runtime decision (stages with equal
    canonical forms are shared as they materialize), so it is invisible
    in the pre-execution plan — these guards collect() first and slice
    off the "Initial Plan" echo that explain() appends below the final.
    """
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def _real_exchanges(final_plan: str, key: str) -> int:
    """Count REAL shuffle exchanges on ``key`` in a final-plan section.

    A ``ReusedExchange`` node echoes the full description of the
    exchange it references in its own argument line, so a plain
    substring count over the plan text double-counts every reuse —
    count only lines that are not reuse references.
    """
    return sum(
        1
        for line in final_plan.splitlines()
        if f"Exchange hashpartitioning({key}#" in line
        and "ReusedExchange" not in line
    )


def test_ngram_jaccard_shuffles_shingles_once(spark):
    """dedup_ngram_jaccard: the exploded shingle set is shuffled ONCE —
    the df-cap window's hashpartitioning(sh) exchange is reused by the
    candidate self-join's build side and the doc-size aggregate instead
    of re-exploding and re-shuffling the shingle rows (the one-shuffle
    claim BENCH.md's 6.5s->2.6s number rests on)."""
    p = _final_plan(QUERIES["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE))
    assert _real_exchanges(p, "sh") == 1
    assert p.count("ReusedExchange") >= 2  # b-side shingles + sizes


def test_minhash_jaccard_est_shares_signature_subtree(spark):
    """minhash_jaccard_est: ONE shingle scan + ONE signature aggregation
    serve all four consumers (pair a/b sides, sig a/b sides) — the
    shared subtree appears once as a real exchange, three times as
    ReusedExchange, so the estimate never re-touches the corpus text."""
    p = _final_plan(QUERIES["minhash_jaccard_est"](spark, SF_DIR_ORACLE))
    assert p.count("Generate explode") == 1  # one shingle scan
    assert _real_exchanges(p, "doc_id") == 1
    assert p.count("ReusedExchange") == 3


def test_ann_ivf_probe_assignment_is_map_only(spark):
    """ann_ivf_probe (round 4): nearest-centroid assignment must be a
    native argmin expression over the driver-materialized codebook —
    no crossJoin, no per-vec_id window, no shuffle of the corpus.  The
    single allowed exchange is the candidate-sized top-k on q_id."""
    import re

    p = _final_plan(QUERIES["ann_ivf_probe"](spark, SF_DIR_ORACLE))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    keys = {
        m.group(1)
        for line in p.splitlines()
        if "ReusedExchange" not in line
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", line)
    }
    assert keys == {"q_id"}, keys
    assert "BroadcastHashJoin" in p  # probes join corpus lists by cent_id


def test_topk_ngrams_is_partial_agg_plus_take_ordered(spark):
    """topk_ngrams: map-side partial counts feed ONE exchange on the
    gram key, and the top-k is TakeOrderedAndProject — never a global
    Sort of the gram counts.  Scan reads only the text column."""
    df = QUERIES["topk_ngrams"](spark, SF_DIR_ORACLE)
    p = _plan(df)
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[1].splitlines()[0]
    assert "ReadSchema: struct<text:string>" in p


def test_dedup_span_ngram_is_two_shuffles(spark):
    """dedup_span_ngram: the window set shuffles exactly once (the
    min/max-over-win duplicate flag) and the per-doc rollup once more
    with a map-side partial agg — no count-distinct expansion, no
    join-back of the window counts."""
    p = _plan(QUERIES["dedup_span_ngram"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 2
    assert "Join" not in p
    assert "partial_count" in p and "partial_sum" in p


def test_winnowing_fingerprint_is_single_doc_exchange(spark):
    """winnowing_fingerprint: ONE hashpartitioning(doc_id) exchange
    serves the gram count, the ordered min-frame, and the fingerprint
    distinct (doc_id is in the distinct key, so the final dedup reuses
    the partitioning instead of adding a shuffle)."""
    p = _plan(QUERIES["winnowing_fingerprint"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in p


def test_contamination_check_train_side_never_shuffles(spark):
    """contamination_check: the train-corpus scan reaches its semi-join
    with the broadcast eval-gram set with NO exchange on its path (the
    production contract: at 100 TB only matched grams may shuffle).
    Both eval joins are broadcast."""
    p = _plan(QUERIES["contamination_check"](spark, SF_DIR_ORACLE))
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # walk the tree text: the LeftSemi join's streamed (train) child
    # block must contain no Exchange other than inside the broadcast
    semi = p.split("BroadcastHashJoin")[1]
    train_block = semi.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in train_block


def test_dedup_incremental_broadcasts_new_batch(spark):
    """dedup_incremental: the new-batch bucket side is BROADCAST (the
    old x old quadrant is never generated by a shuffle join), and the
    new-batch filter is pushed BELOW the build side's signature
    aggregation all the way into its scan — the new side's signatures
    are computed from the new docs only (two small doc_id exchanges,
    one per signature pipeline, is the intended shape: reusing the
    full-store exchange would force the new side to aggregate the
    whole corpus instead)."""
    p = _final_plan(QUERIES["dedup_incremental"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert _real_exchanges(p, "doc_id") == 2
    assert "GreaterThanOrEqual(doc_id,400)" in p  # pushed to the scan


def test_tfidf_terms_plan_shape(spark):
    """tfidf_top_terms: (doc,word) partial-agg counts, document
    frequency as a window over the tf table (no join-back), and the
    per-doc top-k pre-trimmed by WindowGroupLimit below its exchange."""
    p = _plan(QUERIES["tfidf_top_terms"](spark, SF_DIR_ORACLE))
    assert "partial_count" in p
    assert "WindowGroupLimit" in p
    assert "Join" not in p


def test_pii_scrub_is_pure_map(spark):
    """pii_scrub: no exchange, no Python — native regexp codegen over
    the scan (map-only at any scale)."""
    p = _plan(QUERIES["pii_scrub"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "Python" not in p and "MapInPandas" not in p


def test_ocr_page_reflow_is_map_only(spark):
    """ocr_page_reflow: one Arrow-batched MapInPandas over a pruned
    two-column scan — no exchange at any scale (embarrassingly
    parallel per document)."""
    p = _plan(QUERIES["ocr_page_reflow"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "MapInPandas" in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_gopher_filter_is_pure_map(spark):
    """gopher_quality_filter: native expressions only — no exchange,
    no Python; the rules fuse into the scan."""
    p = _plan(QUERIES["gopher_quality_filter"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "Python" not in p and "MapInPandas" not in p


def test_pq_encode_is_map_only(spark):
    """pq_encode: codebook rides the closure; encoding is one Arrow
    MapInPandas over the scan — no shuffle at any scale."""
    p = _plan(QUERIES["pq_encode"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_turn_payload_extract_is_map_only(spark):
    """turn_payload_extract: per-turn extraction over the transcript
    shape is one Arrow MapInPandas over the derivation — no shuffle."""
    p = _plan(QUERIES["turn_payload_extract"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_star_join_is_broadcast(spark):
    """j9_star_join_share: the part dimension broadcasts — the fact
    side never shuffles for the join; the only exchanges are the tiny
    per-type aggregation and the scalar-total window."""
    p = _plan(QUERIES["j9_star_join_share"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_doc_chunk_windows_is_map_only(spark):
    """doc_chunk_windows: the sequence-explode chunker fuses into the
    parquet scan — zero exchanges, no Python, at any scale."""
    p = _plan(QUERIES["doc_chunk_windows"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "Python" not in p and "MapInPandas" not in p
    assert "Generate explode" in p


def test_lm_bigram_score_broadcasts_the_model(spark):
    """lm_bigram_score: the scoring join must BROADCAST the vocab²-
    bounded model — the per-occurrence bigram side never shuffles for
    the join.  The only hash exchanges are the model's count groupBy,
    its w1 conditional-denominator window, and the final per-doc
    rollup (micro-rows with map-side partial sums)."""
    p = _plan(QUERIES["lm_bigram_score"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 3
    assert "partial_sum" in p  # doc rollup combines map-side


def test_line_dedup_is_two_shuffles_no_join(spark):
    """line_dedup: duplicate detection is min!=max over ONE window
    exchange on the line text (no count-distinct, no join-back), and
    reassembly is one conv_id exchange — two shuffles total."""
    p = _plan(QUERIES["line_dedup"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 2
    assert "Join" not in p


def test_text_normalize_is_pure_map(spark):
    """text_normalize: native translate/regexp chain only — no
    exchange, no Python; fuses into the scan."""
    p = _plan(QUERIES["text_normalize"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "Python" not in p and "MapInPandas" not in p


def test_sample_alloc_shuffles_only_count_rows(spark):
    """sample_alloc: the corpus shuffles once as (source) partial-count
    rows; every later step (global sum, remainder rank) runs on the
    k-row aggregated table, so its SinglePartition exchanges carry k
    rows, never documents."""
    p = _plan(QUERIES["sample_alloc"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "Join" not in p


def test_ccnet_bucketing_cuts_aggregate_map_side(spark):
    """ccnet_head_middle_tail: the tercile cutpoints must come from
    Spark's partial-aggregating exact percentile (map-side
    partial_percentile, one tiny SinglePartition merge) and ride a
    broadcast into the bucketing — never a global sort of the scores."""
    p = _plan(QUERIES["ccnet_head_middle_tail"](spark, SF_DIR_ORACLE))
    assert "partial_percentile" in p
    assert p.count("Exchange SinglePartition") <= 1
    assert "BroadcastNestedLoopJoin" in p  # 1-row cuts cross-broadcast
    assert "SortMergeJoin" not in p


def test_clean_corpus_is_one_shuffle(spark):
    """clean_corpus: normalize + every Gopher rule are map-side; the
    only exchange is the norm_text dedup window — one shuffle, no
    join, no Python."""
    p = _plan(QUERIES["clean_corpus"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p
    assert "Python" not in p and "MapInPandas" not in p


def test_exact_substr_excise_plan(spark):
    """exact_substr_excise: dup detection is the span-text window, the
    start lists aggregate per doc, and ONE doc_id equi-join carries
    them back — no Python, no cross join, three hash exchanges plus
    the join."""
    p = _plan(QUERIES["exact_substr_excise"](spark, SF_DIR_ORACLE))
    assert "Python" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 4


def test_bpe_encode_scoring_is_one_shuffle(spark):
    """bpe_encode: the learned merges are literals in the encoding
    expression, so the scoring plan has NO join and no Python — just
    the per-doc rollup exchange (the trainer's own jobs run eagerly
    before this plan exists)."""
    p = _plan(QUERIES["bpe_encode"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p
    assert "Python" not in p and "MapInPandas" not in p


def test_range_join_is_equi_not_nested_loop(spark):
    """j10_range_join: the binned rewrite must produce a hash equi-join
    on the bin key — never the BroadcastNestedLoopJoin a raw interval
    predicate compiles to."""
    p = _plan(QUERIES["j10_range_join"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_html_link_extract_is_jvm_only_distinct_agg(spark):
    """html_link_extract: synthesis + regexp parse stay in codegen (no
    Python anywhere) and the histogram is the canonical two-exchange
    distinct-aggregate — partial_count on (href, doc_id) BEFORE the
    first shuffle (duplicate links collapse map-side), then the href
    rollup.  Any third hash exchange would mean the distinct stopped
    pre-aggregating."""
    p = _plan(QUERIES["html_link_extract"](spark, SF_DIR_ORACLE))
    assert "Python" not in p and "MapInPandas" not in p
    n_hash_ex = p.count("Exchange hashpartitioning")
    assert n_hash_ex == 2, p
    assert "partial_count" in p


def test_html_table_extract_is_map_only(spark):
    """html_table_extract: markup synthesis (higher-order transform)
    and the kernel parse fuse into one Arrow pass — no exchange."""
    p = _plan(QUERIES["html_table_extract"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_html_section_split_is_map_only(spark):
    """html_section_split: per-doc section render + span parse, one
    Arrow pass, no shuffle at any scale."""
    p = _plan(QUERIES["html_section_split"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_link_pagerank_no_python_partial_sums(spark):
    """link_pagerank: all-JVM iteration — contributions partial_sum
    map-side before each dst shuffle, node count arrives as a broadcast
    1-row aggregate (no driver collect), no Python anywhere."""
    p = _plan(QUERIES["link_pagerank"](spark, SF_DIR_ORACLE))
    assert "Python" not in p and "MapInPandas" not in p
    assert "partial_sum" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_table_profile_is_one_native_pass(spark):
    """table_profile: the five exact distincts plan as one Expand +
    two-phase aggregate — all native (no Python), and the only
    single-partition exchange is the global one-row reduce."""
    p = _plan(QUERIES["table_profile"](spark, SF_DIR_ORACLE))
    assert "Python" not in p and "MapInPandas" not in p
    assert "Expand" in p
    assert p.count("Exchange SinglePartition") <= 1


def test_pivot_is_single_pass_no_distinct_scan(spark):
    """a15_pivot_counts: the explicit value list must compile to one
    aggregation over one scan — no second distinct-discovery scan, no
    Expand."""
    p = _plan(QUERIES["a15_pivot_counts"](spark, SF_DIR_ORACLE))
    assert p.count("Scan parquet") == 1
    assert "Expand" not in p
    assert "Python" not in p


def test_range_window_partitions_by_user(spark):
    """a16_range_window: one user_id hash exchange feeding a sorted
    single-pass window — no SinglePartition funnel."""
    p = _plan(QUERIES["a16_range_window"](spark, SF_DIR_ORACLE))
    # the only exchanges allowed: the user_id window partitioning and
    # the final presentation sort — never a SinglePartition funnel
    assert "Exchange SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p and "Python" not in p


def test_json_props_parse_is_jvm_single_shuffle(spark):
    """s10_json_props: declared-schema from_json stays in codegen (no
    Python, no inference scan) and the rollup is one hash exchange
    with partial aggregation below it."""
    p = _plan(QUERIES["s10_json_props"](spark, SF_DIR_ORACLE))
    assert "Python" not in p and "MapInPandas" not in p
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange hashpartitioning") == 1
    assert "from_json" in p


def test_filters_push_down_to_parquet_scan(spark):
    """Predicate pushdown reaches the scan: a filter on a scanned
    column must appear in the FileScan's PushedFilters (row-group
    min/max skipping at 100 TB depends on it), alongside column
    pruning."""
    docs = spark.read.parquet(f"{SF_DIR_ORACLE}/documents.parquet")
    p = _plan(docs.filter(F.col("n_chars") > 300).select("doc_id", "n_chars"))
    pushed = p.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThan(n_chars,300)" in pushed, p
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in p


def test_grouping_sets_is_one_scan_expand_aggregate(spark):
    """a17_grouping_sets: the three breakdowns share ONE table scan
    via Expand + a single partial-aggregated exchange — never one
    aggregation job per grouping set."""
    p = _plan(QUERIES["a17_grouping_sets"](spark, SF_DIR_ORACLE))
    assert p.count("Scan parquet") == 1
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Python" not in p


def test_fuzzy_match_is_blocked_broadcast_join(spark):
    """j11_fuzzy_match: the candidate join must be blocked on the
    cheap equi key (broadcast hash join on the block), with the
    levenshtein recheck inside it — never an unblocked nested-loop
    over the corpus."""
    p = _plan(QUERIES["j11_fuzzy_match"](spark, SF_DIR_ORACLE))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "levenshtein" in p


def test_session_timezone_pinned_utc(spark):
    """The session timezone is pinned to UTC: a16_range_window orders
    its RANGE frame by unix_micros(ts.cast('timestamp')), and the
    NTZ->TIMESTAMP cast applies the session zone — on a DST-observing
    host zone the offset changes across transitions, shifting
    trailing-1h frame membership away from the DuckDB oracle (epoch_us
    treats NTZ as absolute).  UTC makes the cast a constant no-op."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # the invariant itself: NTZ->timestamp->micros == absolute micros
    row = (
        spark.sql(
            "SELECT unix_micros(CAST(TIMESTAMP_NTZ '2024-07-01 12:34:56.789'"
            " AS TIMESTAMP)) AS a"
        ).collect()[0]
    )
    import datetime as _dt
    want = int(
        _dt.datetime(2024, 7, 1, 12, 34, 56, 789000,
                     tzinfo=_dt.timezone.utc).timestamp() * 1_000_000
    )
    assert row["a"] == want


def test_c4_quality_filter_is_map_only(spark):
    """c4_quality_filter: the whole rule set is native expressions that
    fuse into the parquet scan — zero exchanges, zero Python."""
    p = _plan(QUERIES["c4_quality_filter"](spark, SF_DIR_ORACLE))
    assert "Exchange" not in p
    assert "Python" not in p


def test_url_normalize_single_window_exchange(spark):
    """url_normalize: everything up to the keeper window is map-only
    codegen; the ONLY exchange is the window partitioning on the
    canonical URL (the key a crawl-scale URL dedup shuffles by)."""
    p = _plan(QUERIES["url_normalize"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in p
    assert "Python" not in p


def test_dedup_keep_best_is_one_combining_aggregation(spark):
    """dedup_keep_best: ONE aggregation exchange on the cluster
    fingerprint with a partial max(struct) that combines map-side —
    never a row_number window (which would buffer a hot boilerplate
    cluster's rows on a single reducer)."""
    p = _plan(QUERIES["dedup_keep_best"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_max" in p
    assert "Window" not in p
    assert "Python" not in p


def test_dsir_corpus_side_never_shuffled_by_bucket(spark):
    """dsir_importance: BOTH distributions come from ONE aggregation
    pass over the gram stream, and the resulting 256-row weight table
    is BROADCAST back onto it (exactly one BroadcastHashJoin); the
    only row-scale exchanges are the bounded bucket aggregation and
    the final per-doc sum — the gram stream itself is never
    sort-merge-joined or repartitioned by bucket."""
    p = _plan(QUERIES["dsir_importance"](spark, SF_DIR_ORACLE))
    assert p.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "Python" not in p


def test_seq_len_histogram_partial_aggregates(spark):
    """seq_len_histogram: one exchange carrying <=64 buckets per map
    task (partial count/sum/min/max combine map-side)."""
    p = _plan(QUERIES["seq_len_histogram"](spark, SF_DIR_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p or "partial" in p
    assert "Python" not in p


def test_semdedup_pairs_confined_to_equi_cid_join(spark):
    """semdedup: the quadratic comparison must be an EQUI join on the
    cluster id (sort-merge or shuffled-hash, never a cartesian
    product), with the centroid assignment map-side (no Python, no
    per-centroid join) — and it must appear in the executed plan
    exactly ONCE (the union/distinct spelling of the n_close/dropped
    rollups re-evaluated the quadratic pair stage three times)."""
    p = _plan(QUERIES["semdedup"](spark, SF_DIR_ORACLE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Python" not in p
    # the pair join is the only operator referencing the lb-side
    # cluster-id alias; one occurrence = the quadratic stage runs once
    assert sum(1 for ln in p.splitlines()
               if "Join" in ln and "cidb" in ln) == 1


def test_bloom_prefilter_train_side_is_map_only(spark):
    """bloom_prefilter: the returned plan screens the train side
    against a LITERAL bitmask (the eval-side aggregation happens in a
    separate bounded driver job) — so the plan must contain NO join of
    any kind and exactly ONE exchange (the final per-doc aggregation,
    with map-side partials).  This is the operator's whole value at
    100 TB: the crawl-side scan never waits on a shuffle."""
    p = _plan(QUERIES["bloom_prefilter"](spark, SF_DIR_ORACLE))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "Python" not in p


def test_hll_distinct_is_two_bounded_exchanges_no_join(spark):
    """hll_distinct: the gram stream reduces map-side to per-partition
    register maxima — the plan must be join-free (lang rides the scan;
    HLL needs no per-doc dedup) with exactly TWO hash exchanges, both
    bounded (langs x 256 register rows, then langs rows) and both fed
    by partial aggregates."""
    p = _plan(QUERIES["hll_distinct"](spark, SF_DIR_ORACLE))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "partial_max" in p
    assert "Python" not in p


@contextlib.contextmanager
def _conf(spark, **kv):
    """Set session confs, restore afterwards (shared session fixture)."""
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """AQE skew-join handling (session.py enables it; this pins that it
    actually fires): a join where one conv_id owns ~90% of the rows
    gets its skewed partition split at runtime — the executed plan
    marks the SortMergeJoin with ``skew=true`` — once the skew
    thresholds are scaled down to test-sized data.  At production
    sizes the default 256 MB threshold plays the same role."""
    from ocr_spark.synth import transcripts

    base = transcripts(spark, 40, seed=42, skew=False)
    # one giant conversation: replicate conv00000000's turns 3000x
    giant = (
        base.filter(F.col("conv_id") == "conv00000000")
        .crossJoin(spark.range(3000).select(F.lit(1).alias("one")))
        .drop("one")
    )
    skewed = base.unionByName(giant)
    left_path = str(tmp_path / "skew_left")
    skewed.write.parquet(left_path)
    dim = base.select("conv_id").distinct().withColumn("tag", F.lit("x"))
    right_path = str(tmp_path / "skew_right")
    # pad the dim side so neither side is broadcastable-sized
    dim.crossJoin(spark.range(200).select(F.col("id").alias("pad"))).write.parquet(
        right_path
    )

    with _conf(
        spark,
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes="32k",
        spark__sql__adaptive__advisoryPartitionSizeInBytes="16k",
        spark__sql__adaptive__skewJoin__skewedPartitionFactor="2",
        spark__sql__adaptive__coalescePartitions__minPartitionSize="1k",
    ):
        j = spark.read.parquet(left_path).join(
            spark.read.parquet(right_path), "conv_id"
        )
        n = len(j.collect())  # execute THIS plan instance so AQE finalizes
        p = _plan(j)
        assert "isFinalPlan=true" in p
        final = p.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final
    assert n > 0


def test_ts_date_partition_pruning(spark, tmp_path):
    """input_hint names ts as the partition-pruning key: a date(ts)
    partitioned layout must prune at the SCAN (PartitionFilters carry
    the predicate; only matching partition dirs are listed)."""
    from ocr_spark.synth import transcripts

    path = str(tmp_path / "by_date")
    # synth ts all fall on one day; spread conversations over 5 dates
    # (key-derived, deterministic) so pruning has something to prune
    t = transcripts(spark, 200, seed=42, skew=False).withColumn(
        "dt", F.date_add(F.to_date("ts"), F.pmod(F.xxhash64("conv_id"), F.lit(5)).cast("int"))
    )
    t.write.partitionBy("dt").mode("overwrite").parquet(path)

    df = spark.read.parquet(path).filter(F.col("dt") == "2024-01-01")
    p = _plan(df)
    assert "PartitionFilters" in p and "2024-01-01" in p.split("PartitionFilters")[1].split("]")[0]
    # row correctness: the pruned read equals the unpartitioned filter
    want = t.filter(F.col("dt") == "2024-01-01").count()
    assert 0 < want < t.count()
    assert df.count() == want
