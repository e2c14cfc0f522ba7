"""The workloads: inputs made from a seed, one pass, and its output check.

Both workloads extract the same skewed ``synth.transcripts`` corpus to a
noop sink, one through the render path and one through the per-turn
path, in the harness's closed loop.  Passes are checked against values
computed independently of the code under test.  A traced run adds
per-layer passes: the pipeline stages and one checkpointed extraction
with a kill and a restart on render_skewed, one stream drain on
per_turn.  Everything is reached through the public functions of
``ocr_spark``; nothing in the package is patched.
"""

from __future__ import annotations

import itertools
import os
import re
import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from harness import PassResult, dir_bytes, engine_metrics, median
from ocr_spark import pipeline, synth
from ocr_spark.iceberg import ParquetSnapshotWriter
from ocr_spark.kernels import find_spans
from ocr_spark.kernels.tokenizer import count_pieces_batch
from ocr_spark.lineage import CheckpointedExtraction
from ocr_spark.streaming import TRANSCRIPT_SCHEMA, run_stream

ROLES = ("system", "user", "assistant")
CLASSES = ("direction", "distance", "other")
STATUSES = ("ok", "fallback")

_obs_ids = itertools.count()


def _observation() -> Observation:
    return Observation(f"perfbench{next(_obs_ids)}")


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _class_digest() -> list:
    """Order-independent counts per (role, block_class, status)."""
    exprs = [F.count(F.lit(1)).alias("rows")]
    for r, c, s in itertools.product(ROLES, CLASSES, STATUSES):
        cond = (F.col("role") == r) & (F.col("block_class") == c) & (F.col("status") == s)
        exprs.append(F.sum(cond.cast("long")).alias(f"{r}|{c}|{s}"))
    return exprs


def _grouped_counts(df: DataFrame, keys: list[str]) -> dict:
    out = {"|".join(r[k] for k in keys): r["count"] for r in df.groupBy(*keys).count().collect()}
    out["rows"] = sum(out.values())
    return out


def _same_counts(got: dict, want: dict) -> bool:
    keys = set(got) | set(want)
    return all((got.get(k) or 0) == (want.get(k) or 0) for k in keys)


def _identity(batches):
    yield from batches


def _write_counted(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet; returns its row count, observed in the same job."""
    obs = _observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return int(obs.get["n"])


#: fixes the size and skew of the workloads' corpus (6,000 conversations
#: make 98,624 turns with it)
CORPUS_SEED = 42


class Workload:
    """A closed loop of ``extract`` passes over the skewed corpus."""

    name = ""
    #: the public pipeline function a pass runs
    extract = None
    base_convs = 6_000

    def __init__(self, spark, work: str, seed: int, scale: float, tracer, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.cores = cores
        self.n_convs = max(int(self.base_convs * scale), 40)
        self.input_dir = os.path.join(work, "input")
        self.turns = 0
        self.input_bytes = 0
        #: output-check failures found by the traced per-layer passes
        self.layer_errors: list[str] = []

    def corpus(self, n_convs: int) -> DataFrame:
        """The skewed corpus of ``CORPUS_SEED``, its conversations relabelled by the seed.

        The relabelling moves conversations between shuffle partitions
        and tasks while the corpus' size and skew stay fixed, so runs
        with different seeds measure the same amount of work.
        """
        df = synth.transcripts(self.spark, n_convs, seed=CORPUS_SEED)
        label = F.sha2(F.concat_ws(":", F.lit(str(self.seed)), F.col("conv_id")), 256)
        return df.withColumn("conv_id", label.substr(1, 16))

    def generate(self) -> None:
        """One input generation (the set-up repeats it)."""
        self.turns = _write_counted(self.corpus(self.n_convs), self.input_dir)
        self.input_bytes = dir_bytes(self.input_dir)
        self.df = self.spark.read.parquet(self.input_dir)

    def sizes(self) -> dict:
        return {"conversations": self.n_convs, "turns": self.turns,
                "input_bytes": self.input_bytes}

    def one_pass(self, i: int, group: str) -> PassResult:
        obs = _observation()
        _noop(self.extract(self.df).observe(obs, *_class_digest()))
        digest = obs.get
        return PassResult(ok=digest["rows"] == self.turns, groups=[group],
                          detail={"digest": digest})

    def verify(self, passes) -> list[str]:
        want = _grouped_counts(pipeline.classify_turns(self.df),
                               ["role", "block_class", "status"])
        errors = []
        for n, p in enumerate(passes):
            if not _same_counts(p.detail.get("digest", {}), want):
                p.ok = False
                errors.append(f"pass {n}: (role, block_class, status) counts differ "
                              "from classify_turns")
        return errors

    def kernel_layers(self, n_texts: int = 20_000) -> dict:
        """Time the public kernels directly on a fixed sample of texts."""
        texts = [r["text"] or "" for r in self.df.select("text").limit(n_texts).collect()]
        arr = np.array(texts, dtype=object)
        vocab = list(pipeline.DEFAULT_VOCAB)
        vocab_re = re.compile("|".join(re.escape(k) for k in vocab))

        def spans_of_passed():
            passed = [t for t in texts if vocab_re.search(t)]
            hits = sum(any(find_spans(t, k) for k in vocab if k in t) for t in passed)
            return len(passed), hits

        count_s, span_s = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            count_pieces_batch(arr)
            count_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            passed, hits = spans_of_passed()
            span_s.append(time.perf_counter() - t0)
        return {
            "kernels.count_pieces_batch_s": median(count_s),
            "kernels.find_spans_s": median(span_s),
            "kernels.span_hit_ratio": hits / passed if passed else 0.0,
        }


# ---------------------------------------------------------------------------
# render_skewed: the flagship render path
# ---------------------------------------------------------------------------

class RenderSkewed(Workload):
    name = "render_skewed"
    extract = staticmethod(pipeline.extract_conversations)

    def layers(self, warm, read_engine, untraced_pass_s: float) -> dict:
        """Each stage as its own noop pass, then one checkpointed run."""
        sc = self.spark.sparkContext
        base = self.df.select("conv_id", "turn_idx", "role", "text")
        convs = pipeline.conversations(base)
        vocab = list(pipeline.DEFAULT_VOCAB)
        actions = {
            "scan": lambda: _noop(base),
            "prepass": lambda: pipeline.oversized_conv_ids(base).limit(1025).collect(),
            "assemble": lambda: _noop(convs),
            "identity": lambda: _noop(convs.mapInPandas(_identity, schema=convs.schema)),
            "per_turn": lambda: _noop(pipeline.extract_turns(self.df)),
            "native_classify": lambda: _noop(pipeline.classify_turns(self.df)),
            "span_udf": lambda: _noop(base.select(pipeline.span_udf(vocab)(F.col("text")))),
            "token_udf": lambda: _noop(base.select(pipeline.token_count_udf()(F.col("text")))),
            "salted_repartition": lambda: _noop(pipeline.salted_repartition(
                base, int(self.spark.conf.get("spark.sql.shuffle.partitions")))),
        }
        secs: dict[str, float] = {}
        hits = 0
        for name, action in actions.items():
            sc.setJobGroup(f"layer-{name}", name)
            with self.tracer.span(f"pipeline.{name}") as sp:
                res = action()
            secs[name] = sp.end - sp.start
            if name == "prepass":
                hits = len(res)
        sc.setLocalProperty("spark.jobGroup.id", None)
        m = {f"pipeline.{k}_s": v for k, v in secs.items() if k != "identity"}
        m["pipeline.prepass_hits"] = hits
        m["pipeline.arrow_handoff_s"] = secs["identity"] - secs["assemble"]
        engine = read_engine()
        py_render = median(engine_metrics(engine, p.groups)["engine.python_run_s"] for p in warm)
        py_ident = engine_metrics(engine, ["layer-identity"])["engine.python_run_s"]
        # summed over task threads; divide by the slots that ran them
        m["pipeline.render_kernel_s"] = (py_render - py_ident) / self.cores
        m["pipeline.layer_sum_ratio"] = (
            m["pipeline.prepass_s"] + m["pipeline.assemble_s"]
            + m["pipeline.arrow_handoff_s"] + m["pipeline.render_kernel_s"]
        ) / untraced_pass_s
        lineage, self.layer_errors = lineage_layers(self, read_engine)
        m.update(lineage)
        return m


# ---------------------------------------------------------------------------
# per_turn: the per-turn mirror, no conv_id shuffle
# ---------------------------------------------------------------------------

class PerTurn(Workload):
    name = "per_turn"
    extract = staticmethod(pipeline.extract_turns)

    def layers(self, warm, read_engine, untraced_pass_s: float) -> dict:
        stream, self.layer_errors = stream_layers(self)
        return stream


# ---------------------------------------------------------------------------
# lineage layers: one checkpointed extraction, killed and restarted
# ---------------------------------------------------------------------------

class ClockedWriter(ParquetSnapshotWriter):
    """The default parquet writer, observed and clocked per call.

    Each data write carries a row-count observation (no extra job), and
    every call records its start and end so a bucket's time can be split
    into the steps around the writes.
    """

    def __init__(self, spark, output_dir: str):
        super().__init__(spark, output_dir)
        self.data: list[tuple[int, float, float, int]] = []
        self.lineage: list[tuple[int, float, float]] = []

    def write_bucket_data(self, df: DataFrame, bucket: int) -> None:
        obs = _observation()
        t0 = time.perf_counter()
        super().write_bucket_data(df.observe(obs, F.count(F.lit(1)).alias("rows")), bucket)
        self.data.append((bucket, t0, time.perf_counter(), int(obs.get["rows"])))

    def write_lineage_row(self, lineage_df: DataFrame, bucket: int) -> None:
        t0 = time.perf_counter()
        super().write_lineage_row(lineage_df, bucket)
        self.lineage.append((bucket, t0, time.perf_counter()))


#: every commit costs seconds of fixed Spark jobs on a 4-core host, so
#: two buckets (killed after one) keep the traced run inside its time limit
N_BUCKETS = 2
N_GIANTS = 2
CKPT_CONVS = 2_000


def giant_corpus(spark, seed: int, skewed: DataFrame) -> DataFrame:
    """``skewed`` plus conversations just over the render cap."""
    n = pipeline.MAX_RENDER_TURNS + 1
    ids = spark.range(N_GIANTS * n)
    turn = (F.col("id") % n).cast("int")
    h = F.abs(F.xxhash64(F.lit(seed), F.col("id")))
    role = (F.when(turn == 0, F.lit("system"))
            .when(turn % 2 == 1, F.lit("user")).otherwise(F.lit("assistant")))
    city = F.element_at(F.array(*[F.lit(str(c)) for c in synth.CITY_IDS]),
                        (h % 5 + 1).cast("int"))
    text = (F.when(role == "system", F.lit(synth.SYSTEM_PREAMBLE))
            .when(role == "user", F.format_string(
                "From City %s to Damascus, the geodesic distance in km is", city))
            .otherwise(F.format_string("%d km", (h % 90 + 10) * 100)))
    giants = ids.select(
        F.format_string("giant%03d", (F.col("id") / n).cast("int")).alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1704067200) + turn).alias("ts"),
    )
    return skewed.unionByName(giants)


def bucket_steps(writer: ClockedWriter, calls) -> list[dict]:
    """Per-bucket step times from the writer's clock and the run() calls.

    A bucket starts where the previous one's lineage write ended (or at
    its run() call), so ``prepass_s`` also holds the previous bucket's
    manifest update; ``manifest_s`` is exact only for the last bucket of
    each call and is reported for those.
    """
    steps = []
    for (c0, c1) in calls:
        start = c0
        in_call = [k for k, (_, t0, _) in enumerate(writer.lineage) if c0 <= t0 <= c1]
        for pos, k in enumerate(in_call):
            b, l0, l1 = writer.lineage[k]
            _, d0, d1, _ = writer.data[k]
            s = {"bucket": b, "commit_s": l1 - start, "prepass_s": d0 - start,
                 "data_write_s": d1 - d0, "counter_agg_s": l0 - d1,
                 "row_write_s": l1 - l0}
            if pos == len(in_call) - 1:
                s["manifest_s"] = c1 - l1
            steps.append(s)
            start = l1
    return steps


def lineage_layers(wl: Workload, read_engine) -> tuple[dict, list[str]]:
    """Stage, run killed after half the buckets, restart; the lineage.* layers.

    Checks: every bucket is written exactly once across the kill, the
    committed rows and the lineage rows both equal the input turns, and
    the lineage counts every giant conversation as rerouted.
    """
    spark, tracer = wl.spark, wl.tracer
    src = os.path.join(wl.work, "ckpt_in")
    out = os.path.join(wl.work, "ckpt_out")
    skewed = wl.corpus(max(int(CKPT_CONVS * wl.scale), 40))
    turns = _write_counted(giant_corpus(spark, wl.seed, skewed), src)
    input_bytes = dir_bytes(src)

    group = "layer-lineage"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    writer = ClockedWriter(spark, out)
    ext = CheckpointedExtraction(spark, out, n_buckets=N_BUCKETS, writer=writer)
    with tracer.span("lineage.checkpointed") as sp_all:
        with tracer.span("lineage.stage") as sp_stage:
            ext.stage_by_bucket(spark.read.parquet(src))
        killed = False
        with tracer.span("lineage.run") as sp_run:
            try:
                ext.run(fail_after=N_BUCKETS // 2)
            except RuntimeError as exc:
                killed = str(exc).startswith("injected failure")
        restart = CheckpointedExtraction(spark, out, n_buckets=N_BUCKETS, writer=writer)
        skipped = N_BUCKETS - len(restart.pending_buckets())
        with tracer.span("lineage.resume") as sp_resume:
            restart.run()
    sc.setLocalProperty("spark.jobGroup.id", None)

    steps = bucket_steps(writer, [(sp_run.start, sp_run.end),
                                  (sp_resume.start, sp_resume.end)])
    buckets = sorted(b for b, *_ in writer.data)
    rows = sum(r for *_, r in writer.data)
    agg = restart.read_lineage().agg(F.sum("n_turns").alias("t"),
                                     F.sum("n_rerouted").alias("r")).collect()[0]
    rerouted = int(agg["r"] or 0)
    errors = []
    if not (killed and skipped == N_BUCKETS // 2 and buckets == list(range(N_BUCKETS))):
        errors.append(f"checkpointed run: killed={killed}, {skipped} buckets skipped on "
                      f"resume, data writes per bucket {buckets}")
    if rows != turns or agg["t"] != turns or rerouted != N_GIANTS:
        errors.append(f"checkpointed run: {rows} rows written, lineage holds {agg['t']} "
                      f"turns and {rerouted} rerouted conversations; expected {turns} "
                      f"and {N_GIANTS}")

    engine = engine_metrics(read_engine(), [group])
    written = dir_bytes(out) + engine["engine.shuffle_write_bytes"]
    return {
        "lineage.turns_per_s": turns / (sp_all.end - sp_all.start),
        "lineage.commit_s_p50": median(s["commit_s"] for s in steps),
        "lineage.write_amp": written / input_bytes,
        "lineage.stage_s": sp_stage.end - sp_stage.start,
        "lineage.prepass_s": median(s["prepass_s"] for s in steps),
        "lineage.data_write_s": median(s["data_write_s"] for s in steps),
        "lineage.counter_agg_s": median(s["counter_agg_s"] for s in steps),
        "lineage.row_write_s": median(s["row_write_s"] for s in steps),
        "lineage.manifest_s": median(s["manifest_s"] for s in steps if "manifest_s" in s),
        "lineage.data_writes": len(writer.data),
        "lineage.buckets_skipped_on_resume": skipped,
        "lineage.rerouted_convs": rerouted,
        "lineage.jobs_per_bucket": engine["engine.jobs"] / N_BUCKETS,
        "lineage.staged_bytes": dir_bytes(os.path.join(out, "staged")),
        "lineage.data_bytes": dir_bytes(os.path.join(out, "data")),
        "lineage.lineage_bytes": dir_bytes(os.path.join(out, "lineage")),
    }, errors


# ---------------------------------------------------------------------------
# streaming layers: one availableNow drain of a JSONL drop directory
# ---------------------------------------------------------------------------

STREAM_FILES = 128
FILES_PER_TRIGGER = 64  # read_transcript_stream's default


def stream_layers(wl: Workload) -> tuple[dict, list[str]]:
    """Drain a JSONL copy of the corpus with ``run_stream``; the streaming.* layers.

    The drain's (block_class, status) counts must equal the batch
    ``classify_turns`` counts of the same rows.
    """
    spark = wl.spark
    src = os.path.join(wl.work, "stream_in")
    out = os.path.join(wl.work, "stream_out")
    wl.df.repartition(STREAM_FILES).write.mode("overwrite").json(src)
    with wl.tracer.span("streaming.drain"):
        q = run_stream(spark, src, out)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]

    def med(key):
        return median(p.durationMs.get(key, 0) / 1e3 for p in batches)

    errors = []
    keys = ["block_class", "status"]
    want = _grouped_counts(pipeline.classify_turns(
        spark.read.schema(TRANSCRIPT_SCHEMA).json(src)), keys)
    got = _grouped_counts(spark.read.parquet(os.path.join(out, "data")), keys)
    if not _same_counts(got, want) or len(batches) != -(-STREAM_FILES // FILES_PER_TRIGGER):
        errors.append(f"stream drain: {len(batches)} micro-batches, (block_class, status) "
                      f"counts {got} differ from batch classify_turns {want}")
    written = dir_bytes(out)
    return {
        "streaming.batch_s_p50": med("triggerExecution"),
        "streaming.write_amp": written / dir_bytes(src),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.latest_offset_s": med("latestOffset"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.micro_batches": len(batches),
        "streaming.input_rows": sum(p.numInputRows for p in batches),
        "streaming.data_bytes": dir_bytes(os.path.join(out, "data"))
        + dir_bytes(os.path.join(out, "lineage")),
        "streaming.checkpoint_bytes": dir_bytes(os.path.join(out, "_checkpoint")),
    }, errors


WORKLOADS = {w.name: w for w in (RenderSkewed, PerTurn)}
