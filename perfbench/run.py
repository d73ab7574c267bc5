"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_sql --seed 1 --seconds 5 --trace 0

Run from the repository root. Starts Spark at ``local[<cores>]``, sets up
the workload (JVM start, seeded data, warm-up), runs whole cycles until
``--seconds`` have passed, checks its outputs, stops every process it
started, and prints one JSON object as the last line of standard output,
after ``#`` lines with workload-specific figures. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` instead runs a fixed number of
cycles untraced and then traced and reports the per-layer metrics.
Everything the run writes lives under ``.perfbench_work/`` and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("write_p50_ms", "ms"),
    ("read_p50_ms", "ms"),
    ("store_bytes_per_live_byte", "ratio"),
)

SPANS = (
    "api.webhooks", "api.sync",
    "sources.verify_signature", "sources.stripe_api",
    "sync.process_webhook_events", "sync.sync_backfill", "sync.create_views",
    "sync.maintain_corpus_indexes",
    "operators.merge", "operators.postings", "operators.pq_index", "operators.dedup_gate",
    "storage.write_buckets", "storage.prepare_buckets", "storage.commit_prepared",
    "storage.write_rows_buckets", "storage.write", "storage.read", "storage.read_changes",
    "storage.bucket_probe",
    "commitio.io", "functions.xxh64",
    "analytics.plan", "analytics.execute",
)
SPAN_FIELDS = (("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("py4j", "count"))
TOTALS = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.jobs_unattributed", "count"), ("py4j.calls", "count"),
    ("spark.jobs_per_op", "count"), ("py4j.calls_per_op", "count"),
    ("storage.commits", "count"), ("storage.bytes_written", "bytes"),
    ("spark.calib_job_ms", "ms"), ("tracer.overhead_pct", "%"),
)
PER_LAYER = tuple((f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS) + TOTALS


class Context:
    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def start_spark(work: str, cores: int):
    """The engine's own session factory, with every scratch path inside
    ``work`` and job history kept for the whole run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
        "pyspark-shell",
    ])
    from stripe_sync_engine_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> int:
    """Stop Spark and wait for the JVM; returns its peak RSS in KiB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    hwm = _vm_hwm_kib(proc.pid) if proc is not None else 0
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard kill, then wait
            proc.kill()
            proc.wait(timeout=30)
    return hwm


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def fs_bytes_written(spark) -> int:
    """Bytes Hadoop's local file system has written in this JVM so far."""
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem \
        .getGlobalStorageStatistics().get("file")
    return int(stats.getLong("bytesWritten") or 0) if stats is not None else 0


def calibrate(spark, n: int = 3) -> list[float]:
    """The fixed-cost weather probe: ``spark.range(100).count()`` wall, ms."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "perfbench:calib")
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(100).count()
        out.append((time.perf_counter() - t0) * 1000.0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def install_spans(tracer, workload) -> None:
    import stripe_sync_engine_spark.api.app as app
    import stripe_sync_engine_spark.commitio as cio
    import stripe_sync_engine_spark.functions.xxh64 as xx
    import stripe_sync_engine_spark.sources.webhook as webhook
    import stripe_sync_engine_spark.storage as st
    import stripe_sync_engine_spark.sync.engine as se
    from stripe_sync_engine_spark.operators.incremental_dedup import IncrementalDeduper
    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.operators.pq_index import PersistedIVFPQ

    def route(_self, _method, path, *_):
        return {"/webhooks": "api.webhooks", "/sync": "api.sync"}.get(path, "api.other")

    def op_header(_self, _method, _path, headers, *_):
        return {k.lower(): v for k, v in headers.items()}.get("x-perfbench-op")

    w = tracer.wrap
    w(app.Router, "handle", name_of=route, op_of=op_header)
    w(webhook, "verify_signature", "sources.verify_signature", spark=False)
    api = getattr(getattr(workload, "engine", None), "api", None)
    if api is not None:
        for m in ("list", "retrieve", "list_by_parent", "list_line_items", "list_expanded"):
            w(api, m, "sources.stripe_api", spark=False)
    for m in ("process_webhook_events", "sync_backfill", "create_views", "maintain_corpus_indexes"):
        w(se.StripeSparkSync, m, f"sync.{m}")
    for m in ("merge_upsert_clustered", "merge_upsert", "latest_by_key"):
        w(se, m, "operators.merge")  # imported by name into the engine
    w(PersistedPostingsIndex, "apply_changes", "operators.postings")
    w(PersistedIVFPQ, "apply_changes", "operators.pq_index")
    for m in ("apply_changes", "filter_new", "select_new", "register", "unregister"):
        w(IncrementalDeduper, m, "operators.dedup_gate")
    for m in ("write_buckets", "prepare_buckets", "commit_prepared", "write_rows_buckets", "write"):
        w(st.TableStore, m, f"storage.{m}")
    for m in ("read", "read_buckets", "read_where"):
        w(st.TableStore, m, "storage.read")
    w(st.TableStore, "read_changes", "storage.read_changes")
    for m in ("bucket_counts", "bucket_counts_of_values", "buckets_of"):
        w(st.TableStore, m, "storage.bucket_probe")
    w(st.TableStore, "_commit_manifest", "storage.manifest_commit", spark=False)  # counted only
    for m in ("put_atomic", "append", "read_modify_write"):
        w(cio.PosixRenameBackend, m, "commitio.io", spark=False)
    for m in ("xxh64", "spark_xxhash64_str"):
        w(xx, m, "functions.xxh64", spark=False)
    tracer.install_py4j_counter()
    tracer.install_thread_parenting()


def run_timed(workload, seconds: float):
    """Whole cycles until ``seconds`` have passed (the last one finishes)."""
    from workloads import Outcome

    out = Outcome()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        workload.cycle(out)
    return out


def run_traced(ctx, workload, k: int) -> tuple[dict, object]:
    """Phase A: ``k`` cycles untraced. Phase B: the workload's extra traced
    operations, then ``k`` more cycles, traced. Returns the per-layer
    metrics and phase B's outcome."""
    from tracer import Tracer, job_shape
    from workloads import Outcome

    spark = ctx.spark
    a = Outcome()
    for _ in range(k):
        workload.cycle(a)
    calib = calibrate(spark)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup("perfbench:calib")
    bytes0 = fs_bytes_written(spark)
    tracer = ctx.tracer = Tracer(spark.sparkContext)
    install_spans(tracer, workload)
    b = Outcome()
    try:
        workload.extra_traced_ops(b)
        for _ in range(k):
            workload.cycle(b)
    finally:
        tracer.uninstall()
        ctx.tracer = None
    bytes1 = fs_bytes_written(spark)
    calib += calibrate(spark)
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup("perfbench:calib")) - set(before)
    job_range = (max(before), min(after))
    tracer.dump(ctx.path(f"trace-{workload.name}.jsonl"))

    agg = tracer.by_name()
    jobs = tracer.jobs_by_name(SPANS, job_range)
    metrics: dict[str, tuple[float, str]] = {}
    for s in SPANS:
        a_ = agg.get(s, {"calls": 0, "self_s": 0.0, "py4j": 0})
        metrics[f"{s}.calls"] = (a_["calls"], "count")
        metrics[f"{s}.self_s"] = (round(a_["self_s"], 6), "s")
        metrics[f"{s}.jobs"] = (jobs[s], "count")
        metrics[f"{s}.py4j"] = (a_["py4j"], "count")
    n_jobs, n_stages, n_tasks = job_shape(spark.sparkContext, job_range)
    ops = max(b.attempted, 1)
    metrics["spark.jobs"] = (n_jobs, "count")
    metrics["spark.stages"] = (n_stages, "count")
    metrics["spark.tasks"] = (n_tasks, "count")
    metrics["spark.jobs_unattributed"] = (n_jobs - sum(jobs.values()), "count")
    metrics["py4j.calls"] = (tracer.py4j_total, "count")
    metrics["spark.jobs_per_op"] = (round(n_jobs / ops, 4), "count")
    metrics["py4j.calls_per_op"] = (round(tracer.py4j_total / ops, 2), "count")
    metrics["storage.commits"] = (agg.get("storage.manifest_commit", {}).get("calls", 0), "count")
    metrics["storage.bytes_written"] = (bytes1 - bytes0, "bytes")
    metrics["spark.calib_job_ms"] = (round(statistics.median(calib), 3), "ms")
    # both phases ran k cycles of the same shape; the extra ops are not busy time
    metrics["tracer.overhead_pct"] = (round(100.0 * (b.busy_s - a.busy_s) / a.busy_s, 3), "%")
    # the gates still see both phases' operations
    b.attempted += a.attempted
    b.failed += a.failed
    b.problems += a.problems
    return metrics, b


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail before any Spark start if the engine or the oracle's SQL engine is absent
    import duckdb  # noqa: F401

    import stripe_sync_engine_spark.api.app  # noqa: F401
    import stripe_sync_engine_spark.sync.engine  # noqa: F401
    from workloads import TRACE_CYCLES, WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    spark = None
    jvm_hwm_kib = 0
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        ctx = Context(spark, args.seed, work)
        workload = WORKLOADS[args.workload](ctx)
        workload.setup()
        setup_s = time.perf_counter() - t0
        try:
            if args.trace:
                layer, out = run_traced(ctx, workload, TRACE_CYCLES[args.workload])
            else:
                out = run_timed(workload, args.seconds)
                out.detail["calib_job_ms"] = (statistics.median(calibrate(spark)), "ms")
            workload.check(out)
        finally:
            workload.close()
        py_hwm_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_hwm_kib = stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    out.detail["peak_rss_mb"] = ((py_hwm_kib + jvm_hwm_kib) / 1024.0, "MB")
    ops = len(out.writes_s) + len(out.reads_s)
    out.detail["ops_per_s"] = (ops / out.busy_s if out.busy_s else 0.0, "1/s")
    for line in out.problems[:20]:
        print(f"# problem: {line}")
    error_rate = out.failed / max(out.attempted, 1)
    out.detail["error_rate"] = (error_rate, "ratio")
    out.detail["write_samples"] = (len(out.writes_s), "count")
    out.detail["read_samples"] = (len(out.reads_s), "count")
    for name, (value, unit) in sorted(out.detail.items()):
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        metrics = layer
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "write_p50_ms": (statistics.median(out.writes_s) * 1000.0, "ms"),
            "read_p50_ms": (statistics.median(out.reads_s) * 1000.0, "ms"),
            "store_bytes_per_live_byte": (out.store_bytes / out.live_bytes, "ratio"),
        }
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
