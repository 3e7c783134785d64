"""Engine benchmark: one seeded workload, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, builds one
SparkSession with ``session.get_spark`` (engine defaults, ``local[2]``),
sets up, then runs passes of operations until ``--seconds`` have
elapsed (finishing the pass in progress), checks every op's output and
prints one JSON object as the last line of stdout.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same inputs
with per-layer instrumentation and reports the per-layer metrics.
Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

# Fail fast (non-zero, no result) when the engine is not beside us.
import docker_etl_spark.session  # noqa: E402,F401
import tests.oracle  # noqa: E402,F401

import tracing  # noqa: E402
import workloads  # noqa: E402

CORES = 2  # Spark task slots; see README.md for the sizing evidence


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it: the 11th-largest sample."""
    s = sorted(values)
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def prepare_env(work: Path) -> None:
    """Keep every byte the run writes inside ``work``, and let the
    Python workers import the engine."""
    for d in ("tmp", "jvm-tmp", "spark-local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # The temp dir is relative to the JVM's working directory (``work``):
    # Spark's launcher splits driver Java options on spaces, so no
    # absolute path goes there. -UsePerfData keeps the hsperfdata files
    # of the JVM and of spark-submit's launcher JVM out of /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options '-Djava.io.tmpdir=jvm-tmp -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    os.chdir(work)  # spark-warehouse / derby land here


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"run_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    # peak RSS is a per-layer metric: sample it in the traced run only
    rss = tracing.RssSampler() if args.trace else None
    if rss:
        rss.start()
    try:
        result = run(args, work, rss)
    finally:
        if rss:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()
    print(json.dumps(result))
    return 0


def run(args, work: Path, rss: tracing.RssSampler | None) -> dict:
    from docker_etl_spark.session import get_spark

    wl_cls = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (work / "events").as_uri(),
        })

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark.sparkContext) if trace else None
    try:
        result, e2e, layer_inputs = measure(args, spark, wl_cls, work, rss, tracer, get_spark_s)
    finally:
        stop_spark(spark)  # also flushes the event log the traced run reads
    metrics = layer_metrics(tracer, work, get_spark_s, **layer_inputs) if trace else e2e
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result


def measure(args, spark, wl_cls, work, rss, tracer, get_spark_s):
    sc = spark.sparkContext
    if tracer:
        instrument(tracer)
    wl = wl_cls(spark, str(work), args.seed)
    t = time.perf_counter()
    wl.make_inputs()
    t_inputs = time.perf_counter() - t
    wl.setup()
    # the seeded input files are the benchmark's own work, not the engine's
    setup_s = time.perf_counter() - T_START - t_inputs
    print(f"# setup {setup_s:.2f} s (inputs {t_inputs:.2f} s excluded): session "
          f"{get_spark_s:.2f} s, workload setup {time.perf_counter() - t - t_inputs:.2f} s "
          + json.dumps({k: round(v, 2) for k, v in wl.steps.items()}))

    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    store_dirs = wl.store_dirs()
    io0 = tracing.proc_io(jvm_pid)
    files = workloads.file_set(store_dirs) if tracer else set()

    rng = random.Random(args.seed)
    ops: list[workloads.Op] = []
    t_begin = time.perf_counter()
    deadline = t_begin + args.seconds
    passes = wl.passes(rng)
    n_passes = 0
    while time.perf_counter() < deadline:
        # building a pass's inputs is the benchmark's work: it happens
        # here, between ops, and no op's latency includes it
        for op in next(passes):
            run_op(op, len(ops), tracer)
            ops.append(op)
            if tracer:  # bookkeeping between ops, outside their timing
                t = time.perf_counter()
                now = workloads.file_set(store_dirs)
                op.files_created = len(now - files)
                files = now
                tracer.overhead_s += time.perf_counter() - t
        n_passes += 1
    elapsed_s = time.perf_counter() - t_begin
    # the client's busy time: the sum of its ops' latencies
    busy_s = sum(op.t_total for op in ops)

    io1 = tracing.proc_io(jvm_pid)
    store_bytes = workloads.dir_bytes(store_dirs)

    for op in ops:  # output checks, outside the timed phase
        if op.error is None and op.check is not None:
            try:
                op.error = op.check(op.result)
            except Exception as e:  # a broken output is a failed op
                op.error = f"check raised {e!r}"
    wl.close()
    failed = sum(op.error is not None for op in ops)
    for op in ops:
        if op.error:
            print(f"FAILED {op.kind} {op.label}: {op.error}", file=sys.stderr)

    lat = [op.t_total for op in ops if op.error is None]
    reads = [op.t_total for op in ops if op.error is None and op.side == "read"]
    writes = [op.t_total for op in ops if op.error is None and op.side == "write"]
    if len(lat) >= 11:
        tail, tail_pct = percentile_tail(lat)
        tail_note = f"latency tail p{tail_pct:.0f} = {tail:.3f} s"
    else:  # too few samples to support a tail
        tail_note = "no latency tail"
    print(
        f"# {args.workload} seed={args.seed}: {n_passes} pass(es), {len(ops)} ops "
        f"({len(reads)} read, {len(writes)} write), {busy_s:.1f} s of op latency in "
        f"{elapsed_s:.1f} s; {tail_note} from {len(lat)} samples"
    )
    share = pruned_share(ops)
    if share is not None:
        print(f"# pruned plan taken by {100 * share:.0f}% of batch-probe queries")
    print("# op latencies (s): " + " ".join(
        f"{op.label or op.kind}={op.t_total:.3f}" for op in ops))
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_wall_s": (busy_s / n_passes, "s"),
        "read_geomean_s": (statistics.geometric_mean(reads) if reads else 0.0, "s"),
    }
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    layer_inputs = dict(ops=ops, n_passes=n_passes, busy_s=busy_s, io0=io0, io1=io1,
                        reads=reads, rss=rss,
                        store_bytes=store_bytes)
    return result, e2e, layer_inputs


def pruned_share(ops) -> float | None:
    """Share of the batch probes' queries that took the pruned plan,
    from the engine's ``_diag`` records; None without batch probes."""
    diags = [op.diag for op in ops if op.diag]
    if not diags:
        return None
    return sum(len(d.get("valid", ())) for d in diags) / (len(diags) * workloads.BATCH_QUERIES)


def run_op(op: workloads.Op, index: int, tracer) -> None:
    span = tracer.begin_op(index, op.kind) if tracer else None
    t0 = time.perf_counter()
    try:
        r = op.call()
        op.t_build = time.perf_counter() - t0
        if op.frame:
            r = workloads.collect_rows(r)
        op.result = r
    except Exception as e:
        op.error = f"raised {e!r}"
        traceback.print_exc(file=sys.stderr)
    op.t_total = time.perf_counter() - t0
    if span is not None:
        tracer.end_op(span)
        op.span = span.sid


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

#: search functions whose self time and call count are reported
SEARCH_FNS = (
    "search_bm25_topk", "search_bm25_topk_pruned",
    "search_bm25_topk_batch_pruned", "phrase_search_topk", "fuzzy_term_suggest",
    "read_search_index_meta", "read_search_index_horizon",
    "read_search_dictionary", "read_search_deletes",
    "append_search_index", "delete_from_search_index",
    "compact_search_index", "search_index_census",
)
#: store functions that do I/O, whose self time and job count are
#: reported (``store_writer_lock``, a context manager, and the lazy
#: ``write_repartition`` are left unwrapped)
STORES_FNS = (
    "parquet_row_count", "read_sidecar_rows",
    "write_sidecar_rows", "write_tombstone_sidecar", "parquet_file_count",
    "compact_sidecar_partitioned", "compact_partitioned_store",
    "parquet_path_exists", "parquet_write_completed",
)
IO_FNS = ("load_table",)
STREAM_PARTS = {
    "dedupe.incremental_content_dedup": "content_dedup_pct",
    "text_dedup.incremental_minhash_dedup": "minhash_dedup_pct",
    "dedupe.write_digest_store": "store_write_pct",
    "text_dedup.write_signature_store": "store_write_pct",
}
OP_KINDS = (
    "query", "search_bm25_topk", "search_bm25_topk_pruned",
    "search_bm25_topk_batch_pruned",
    "phrase_search_topk", "fuzzy_term_suggest", "search_index_census",
    "append_search_index", "delete_from_search_index",
    "compact_search_index", "curation_micro_batch",
)


def instrument(tracer: tracing.Tracer) -> None:
    from docker_etl_spark.operators import dedupe, search, text_dedup
    from docker_etl_spark.sources import io, stores

    tracer.instrument(search, "search")
    tracer.instrument(stores, "stores", STORES_FNS)
    tracer.instrument(io, "io", IO_FNS)
    tracer.instrument(dedupe, "dedupe", ("incremental_content_dedup", "write_digest_store"))
    tracer.instrument(text_dedup, "text_dedup",
                      ("incremental_minhash_dedup", "write_signature_store"))


def layer_metrics(tracer, work, get_spark_s, ops, n_passes, busy_s, io0, io1,
                  reads, rss, store_bytes):
    jobs = tracing.parse_event_log(str(work / "events"))
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)

    def span_jobs(sp, deep=True):
        spans = tracer.subtree(sp.sid) if deep else [sp]
        return [j for s in spans for j in by_group.get(s.group, [])]

    n = max(1, len(ops))
    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (get_spark_s, "s")
    frames = [op for op in ops if op.frame and op.error is None]
    m["queries.build_s"] = (statistics.median([o.t_build for o in frames]) if frames else 0.0, "s")
    m["queries.action_s"] = (
        statistics.median([o.t_total - o.t_build for o in frames]) if frames else 0.0, "s")

    op_jobs = {op.span: span_jobs(tracer.spans[op.span]) for op in ops}
    all_jobs = [j for js in op_jobs.values() for j in js]
    busy = gap = 0.0
    for op in ops:
        sp = tracer.spans[op.span]
        u = tracing.union_length(
            (max(j.t0, sp.t0), min(j.t1, sp.t1)) for j in op_jobs[op.span] if j.t1 > sp.t0
        )
        busy += u
        gap += (sp.t1 - sp.t0) - u
    m["spark.jobs_per_op"] = (len(all_jobs) / n, "count")
    m["spark.stages_per_op"] = (sum(j.stages for j in all_jobs) / n, "count")
    m["spark.tasks_per_op"] = (sum(j.tasks for j in all_jobs) / n, "count")
    m["spark.job_busy_s"] = (busy / n, "s")
    m["spark.driver_gap_s"] = (gap / n, "s")

    # Layer and op-type costs are shares of the ops' summed latency: a
    # time for a layer one workload never calls would read the same 0
    # on every run.
    def pct(seconds: float) -> tuple[float, str]:
        return (100.0 * seconds / busy_s, "%")

    for kind in OP_KINDS:
        mine = [op for op in ops if op.kind == kind and op.error is None]
        m[f"op.{kind}.wall_pct"] = pct(sum(o.t_total for o in mine))
        m[f"op.{kind}.jobs"] = (
            sum(len(op_jobs[o.span]) for o in mine) / len(mine) if mine else 0.0, "count")
    m["lat.read_p50_s"] = (statistics.median(reads), "s")

    spans = [s for s in tracer.spans if s.parent is not None]

    def named(name):
        return [s for s in spans if s.name == name]

    def self_pct(name):
        return pct(sum(tracing.self_time(tracer, s) for s in named(name)))

    for fn in SEARCH_FNS:
        m[f"search.{fn}.self_pct"] = self_pct(f"search.{fn}")
        m[f"search.{fn}.calls"] = (len(named(f"search.{fn}")) / n_passes, "count")
    m["search.batch_pruned_share"] = (pruned_share(ops) or 0.0, "ratio")
    store_calls = zero_job_calls = 0
    for fn in STORES_FNS:
        m[f"stores.{fn}.self_pct"] = self_pct(f"stores.{fn}")
        m[f"stores.{fn}.jobs"] = (
            sum(len(span_jobs(s, deep=False)) for s in named(f"stores.{fn}")) / n_passes, "count")
        for s in named(f"stores.{fn}"):
            store_calls += 1
            zero_job_calls += not span_jobs(s)
    m["stores.driver_direct_ratio"] = (zero_job_calls / store_calls if store_calls else 0.0, "ratio")
    for fn in IO_FNS:
        m[f"io.{fn}.self_pct"] = self_pct(f"io.{fn}")

    parts = dict.fromkeys(STREAM_PARTS.values(), 0.0)
    for name, key in STREAM_PARTS.items():
        parts[key] += sum(s.t1 - s.t0 for s in named(name))
    for key, v in parts.items():
        m[f"streaming.{key}"] = pct(v)

    mb = 1024.0 * 1024.0
    m["os.jvm_write_mb_per_op"] = ((io1.get("write_bytes", 0) - io0.get("write_bytes", 0)) / mb / n, "MB")
    # storage-level reads are page-cache hits at this size: count the
    # bytes the JVM's read() calls returned instead
    m["os.jvm_read_mb_per_op"] = ((io1.get("rchar", 0) - io0.get("rchar", 0)) / mb / n, "MB")
    m["os.files_created_per_op"] = (sum(op.files_created for op in ops) / n, "count")
    ingested = sum(op.input_bytes for op in ops)
    written = io1.get("write_bytes", 0) - io0.get("write_bytes", 0)
    m["os.write_amp"] = (written / ingested if ingested else 0.0, "ratio")
    rss.sample()
    for part in ("total", "driver", "jvm", "workers"):
        m[f"os.peak_rss_{part}_mb"] = (rss.peak_kb[part] / 1024.0, "MB")
    m["os.store_mb"] = (store_bytes / mb, "MB")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
