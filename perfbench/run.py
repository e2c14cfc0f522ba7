#!/usr/bin/env python3
"""Layered benchmark of the transcript-extraction engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload render_skewed --seed 1 --seconds 20 --trace 0

One workload runs per call, in one driver process, on ``local[nproc]``
with the defaults of ``ocr_spark.session.get_spark``.  The workload is a
closed loop with one client.  Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the repository and removed at the end.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs with
Spark's event log, the clocked snapshot writer and the per-layer passes
on, and reports the per-layer metrics.  It compares itself with an
untraced run of the same workload and settings (a report already in
``.perfbench_out/``, else the same call with ``--trace 0`` in a child
process): the difference in wall time of set-up, closed loop and checks
is ``trace.overhead_s``.  The checkpointed extraction (``lineage.*``)
is traced on render_skewed and the stream drain (``streaming.*``) on
per_turn; a layer that is not on a workload's path reads 0 there.
``lineage.write_amp`` is the bytes the checkpointed run writes (staged
input, data, lineage, manifest and shuffle files) over the bytes of its
input parquet; ``streaming.write_amp`` is the drain's output and
checkpoint bytes over its JSONL input bytes.

The end-to-end metrics are ``setup_s`` (session start, the median input
generation of three, and a pandas-UDF warm-up query) and
``cpu_us_per_turn``: the host's busy CPU time (``/proc/stat``, steal
left out) in the median measured pass over the input turns.  The first
warm pass is not measured; it still warms the JIT and the Python
workers.  Wall-clock throughput and the cold pass are reported with the
per-layer metrics (``loop.*``): on a host shared with other guests their
run-to-run spread is several times that of the CPU cost.  Every metric
is printed as ``name value unit``; the last line of standard output is
one JSON object.  The exit code is 0 when every output check passed, 1
when one failed, 2 when the preflight failed (nothing is printed on
standard output then).

A report with the host fingerprint, the spans and every pass is written
to ``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import ExitStack, contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


# ---------------------------------------------------------------------------
# host fingerprint and preflight
# ---------------------------------------------------------------------------

def membw_canary(mb: int = 256, reps: int = 3) -> float:
    """Best-of-``reps`` DRAM copy bandwidth in GB/s (read + write)."""
    import numpy as np

    a = np.ones(mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # first touch outside the timed copies
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return 2 * mb / 1024 / best


def mem_available_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024 ** 2
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def free_gb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 1024 ** 3


def fingerprint() -> dict:
    fp = {"nproc": len(os.sched_getaffinity(0)),
          "mem_available_gb": mem_available_gb(),
          "work_free_gb": free_gb(ROOT),
          "membw_gbps": membw_canary()}
    if os.path.isdir("/dev/shm"):
        fp["shm_free_gb"] = free_gb("/dev/shm")
    return fp


#: the smallest host the full-size workloads fit on (driver heap is 8g max)
MIN_MEM_GB = 4.0
MIN_FREE_GB = 2.0


def preflight() -> list[str]:
    problems = []
    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        problems.append(f"no ocr_spark package under {ROOT}")
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        problems.append("no java on PATH and JAVA_HOME unset")
    if mem_available_gb() < MIN_MEM_GB:
        problems.append(f"MemAvailable {mem_available_gb():.1f} GB < {MIN_MEM_GB} GB")
    if free_gb(ROOT) < MIN_FREE_GB:
        problems.append(f"free space under {ROOT} {free_gb(ROOT):.1f} GB < {MIN_FREE_GB} GB")
    return problems


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def confine_to(work: str) -> None:
    """Point every temp and scratch location of this run into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # local[nproc] through get_spark's own defaults
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)


@contextmanager
def spark_session(work: str, trace: bool):
    """get_spark with its defaults; stops the JVM and waits for it."""
    from pyspark import SparkContext

    from ocr_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + logdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = None
    try:
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        yield spark
    finally:
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def warm_up(spark) -> None:
    """One trivial pandas-UDF query: starts the Python workers."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    spark.range(1000, numPartitions=spark.sparkContext.defaultParallelism).select(
        plus_one("id")).write.mode("overwrite").format("noop").save()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing for the Spark JVM")


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

SETUP_REPS = 3
#: warm passes every run makes; the first of them is not measured
MIN_WARM = 3


def bench(args, work: str, untraced_pass_s: float):
    """Set up, run the closed loop, check; returns (metrics, report, passes, errors)."""
    from pyspark import cloudpickle

    import harness
    import workloads
    from harness import Tracer, closed_loop, engine_by_group, engine_metrics, median
    from ocr_spark.deploy import ensure_shipped

    # functions defined here travel by value: executors cannot import the benchmark
    cloudpickle.register_pickle_by_value(workloads)

    tracer = Tracer(uuid.uuid4().hex[:12])
    cores = len(os.sched_getaffinity(0))
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "scale": args.scale, "run_id": tracer.run_id,
                    "host_before": fingerprint()}
    with tracer.span("run") as sp_run, ExitStack() as stack:
        with tracer.span("session.start") as sp_start:
            spark = stack.enter_context(spark_session(work, bool(args.trace)))
            ensure_shipped(spark)
        with tracer.span("warm_up") as sp_warm:
            warm_up(spark)
        wl = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.scale, tracer, cores)
        gen_s = []
        for _ in range(SETUP_REPS):
            with tracer.span("synth.input_gen") as sp:
                wl.generate()
            gen_s.append(sp.end - sp.start)
        start_s = sp_start.end - sp_start.start
        setup_s = start_s + median(gen_s) + (sp_warm.end - sp_warm.start)

        with tracer.span("closed_loop"):
            cold, warm = closed_loop(spark, tracer, wl.one_pass, args.seconds, MIN_WARM)
        passes = [cold] + warm
        with tracer.span("verify") as sp_verify:
            errors = wl.verify(passes)
        # set-up, closed loop and checks: the part a traced run shares with an untraced one
        report["common_s"] = sp_verify.end - sp_run.start

        # the first warm pass still warms the JIT and the Python workers
        measured = warm[1:]
        report["warm_pass_s"] = median(p.seconds for p in measured)
        metrics = {
            "setup_s": setup_s,
            "cpu_us_per_turn": median(p.cpu_s for p in measured) / wl.turns * 1e6,
        }
        if args.trace:
            def read_engine():
                harness.wait_for_listeners(spark)
                return engine_by_group(os.path.join(work, "eventlog"))

            layer = {
                "session.start_s": start_s,
                "synth.input_gen_s": median(gen_s),
                "loop.turns_per_s": wl.turns / report["warm_pass_s"],
                "loop.cold_pass_s": cold.seconds,
                "loop.cold_pass_cpu_s": cold.cpu_s,
                "loop.steal_s": median(p.steal_s for p in measured),
            }
            with tracer.span("kernels"):
                layer.update(wl.kernel_layers())
            layer.update(wl.layers(measured, read_engine, untraced_pass_s))
            errors += wl.layer_errors
            engine = read_engine()
            per_pass = [engine_metrics(engine, p.groups) for p in measured]
            layer.update({k: median(e[k] for e in per_pass) for k in per_pass[0]})
            layer["engine.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            metrics = layer

    report.update({
        "host_after": fingerprint(),
        "input": wl.sizes(),
        "passes": [{"seconds": p.seconds, "cpu_s": p.cpu_s, "steal_s": p.steal_s, "ok": p.ok,
                    "groups": p.groups}
                   for p in passes],
        "errors": errors,
        "trace_data": tracer.to_json(),
    })
    return metrics, report, passes, errors


def untraced_reference(args) -> dict:
    """The report of an untraced run of the same workload and settings.

    The newest matching report in ``.perfbench_out`` is used, one of the
    same seed first; when there is none, the same call runs with
    ``--trace 0`` in a child process and its report is used.
    """
    def newest():
        found = []
        for path in glob.glob(os.path.join(OUT_DIR, f"{args.workload}-seed*-trace0.json")):
            with open(path) as fh:
                r = json.load(fh)
            if ((r.get("seconds"), r.get("scale")) == (args.seconds, args.scale)
                    and "warm_pass_s" in r and r["result"]["correct"]):
                found.append((r["seed"] == args.seed, os.path.getmtime(path), r))
        return max(found, key=lambda f: f[:2])[2] if found else None

    ref = newest()
    if ref is None:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--scale", str(args.scale)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        if out.returncode != 0:
            raise RuntimeError(f"untraced run failed ({out.returncode}):\n{out.stderr[-3000:]}")
        ref = newest()
    return ref


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    problems = preflight()
    if problems:
        for p in problems:
            print(f"perfbench preflight: {p}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    ref = untraced_reference(args) if args.trace else None

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    try:
        confine_to(work)
        metrics, report, passes, errors = bench(args, work, ref and ref["warm_pass_s"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t0
    report["wall_s"] = wall
    if ref is not None:
        metrics["trace.overhead_s"] = report["common_s"] - ref["common_s"]
        report["untraced_ref"] = {"seed": ref["seed"], "run_id": ref["run_id"]}

    wanted = [m["name"] for m in SPEC["per_layer" if args.trace else "end_to_end"]]
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": UNITS[name]}
           for name in wanted}
    failed = sum(not p.ok for p in passes)
    result = {"correct": failed == 0 and not errors, "attempted": len(passes),
              "failed": failed, "metrics": out}
    report["result"] = result

    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    for e in errors:
        print(f"# check failed: {e}")
    for k, v in out.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
