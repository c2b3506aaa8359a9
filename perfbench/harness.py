"""Session, measured phases, traced phase and result line of one run."""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import signal
import statistics
import time

from pyspark import SparkContext
from pyspark.sql import functions as F

from spacy_llm_spark import get_spark
from spacy_llm_spark.pipeline import annotate_corpus

import host
import replay
import spans
import workloads

# documents the traced run replays in this process
REPLAY_DOCS = 400
# per-layer metrics that come from neither the spans nor the replay
EXTRA_UNITS = {
    "fused.crossing_s": "s",
    "checkpoint.hit_ratio": "ratio",
    "checkpoint.rows_processed": "count",
    "checkpoint.files": "count",
    "checkpoint.bytes_per_input_byte": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.span_cover": "ratio",
}


def start_session(cores: int, run_dir: str):
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="sparkg-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait until the JVM and
    the Python workers it forked have exited. Also called with ``spark``
    None, when the session failed to start after its JVM was launched."""
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    workers = spans.tree_pids(proc.pid)[1:] if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                gateway.shutdown()
                proc.stdin.close()  # the gateway server exits when its stdin closes
                proc.wait(timeout=60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        # the workers exit at EOF on their pipe from the dead JVM
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [pid for pid in workers if spans.pid_alive(pid)]
            time.sleep(0.05)
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(spans.pid_alive(pid) for pid in workers):
            time.sleep(0.05)


class EventLog:
    """Spark's own event logger attached to the running session: one
    uncompressed, unrolled JSON-lines file under ``log_dir``."""

    def __init__(self, sc, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        jsc = sc._jsc.sc()  # noqa: SLF001
        jvm = sc._jvm  # noqa: SLF001
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._jsc = jsc
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jvm.scala.Option.empty(),
            jvm.java.net.URI(pathlib.Path(log_dir).as_uri()), conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> None:
        # the listener bus delivers events asynchronously: drain it before
        # detaching, or the last jobs' task rows are lost
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()


def measure(wl, tracer, seconds: float, after_op=lambda: None) -> list:
    """Run operations for ``seconds``: at least one, and another only while
    it is expected to end inside the window. Returns [(wall_s, docs,
    triples, ok)] and calls ``after_op`` after each operation."""
    ops = []
    deadline = time.perf_counter() + seconds
    last = 0.0
    while not ops or time.perf_counter() + last < deadline:
        t_op = time.perf_counter()
        wl.prepare()
        tracer.op = len(ops)
        t0 = time.perf_counter()
        with tracer.span("op"):
            docs, triples = wl.op(tracer)
        wall = time.perf_counter() - t0
        tracer.op = None
        ok = wl.check()
        ops.append((wall, docs, triples, ok))
        after_op()
        last = time.perf_counter() - t_op
    return ops


def run(args, work: str) -> int:
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    context = {"workload": args.workload, "seed": args.seed, "cores": args.cores,
               "loadavg1": host.loadavg1(), **host.effective_cores(args.cores)}
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        spark, session_s = start_session(args.cores, run_dir)
        sc = spark.sparkContext
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir, args.cores)
        tracer = spans.Tracer(sc, enabled=False)
        t0 = time.perf_counter()
        wl.inputs()
        context["inputs_s"] = time.perf_counter() - t0
        wl.setup()
        context["references_s"] = time.perf_counter() - t0 - context["inputs_s"]
        # one untimed operation: the JIT and Spark's caches make the first
        # repetition of these job-heavy operations much slower than the rest
        warm = measure(wl, tracer, 0)
        setup_s = session_s + time.perf_counter() - t0
        context.update(session_s=session_s, warmup_s=[o[0] for o in warm])

        # peak resident memory of the JVM and its Python workers over the
        # measured phase only: reset the high-water marks, then read them
        # after every operation, so a worker that exits mid-phase counts too
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        peak = [0.0, 0.0]

        def rss():
            peak[:] = map(max, peak, spans.tree_hwm_mb(jvm_pid))

        spans.reset_tree_hwm(jvm_pid)
        ops = measure(wl, tracer, args.seconds, rss)
        wall_s = statistics.median(o[0] for o in ops)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "docs_per_s": (statistics.median(o[1] / o[0] for o in ops), "1/s"),
            "triples_per_s": (statistics.median(o[2] / o[0] for o in ops), "1/s"),
            # the JVM's own resident size follows G1's heap growth, not the
            # work done, so it is a per-layer figure only
            "workers_peak_rss_mb": (peak[1], "MB"),
        }
        context["jvm_peak_rss_mb"] = peak[0]
        context["op_walls_s"] = [o[0] for o in ops]
        ops = warm + ops
        if args.trace:
            metrics, traced_ops = traced(args, work, wl, sc, wall_s)
            metrics["jvm.peak_rss_mb"] = (peak[0], "MB")
            ops += traced_ops
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not o[3] for o in ops)
    context["error_rate"] = failed / len(ops)
    print(json.dumps(context, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def traced(args, work: str, wl, sc, untraced_wall_s: float) -> tuple:
    """A second measured phase with spans and the event log on, a third
    untraced one, then the in-process kernel replay. Returns
    ({metric: (value, unit)}, ops); the replay's agreement with
    ``annotate_fused`` counts as one more op.

    The tracing overhead compares the traced phase with the mean of the
    untraced phases before and after it, so the JIT's continuing warm-up
    does not read as a negative overhead."""
    log_dir = os.path.join(work, "run", "eventlog")
    tracer = spans.Tracer(sc, enabled=True)
    events = EventLog(sc, log_dir)
    try:
        ops = measure(wl, tracer, args.seconds)
    finally:
        events.close()
    after = measure(wl, spans.Tracer(sc, enabled=False), args.seconds)
    folded = spans.fold_event_log(log_dir)
    n_ops = len(ops)
    out = spans.span_metrics(tracer, folded, n_ops)
    wall_s = statistics.median(o[0] for o in ops)
    out["trace.wall_s"] = wall_s
    out["trace.overhead_s"] = wall_s - (
        untraced_wall_s + statistics.median(o[0] for o in after)
    ) / 2
    out["trace.span_cover"] = sum(
        out[f"{s}.self_s"] for s in spans.SPARK_SPANS
    ) / (sum(o[0] for o in ops) / n_ops)

    kernel, ok = replay_sample(wl, args.seed)
    out.update(kernel)
    # the fused pass's task time not spent in the kernel: the Arrow and
    # pandas crossing (0 where no fused.annotate span runs)
    annotate_rows = sum(o[1] for o in ops) / n_ops if out["fused.annotate.tasks"] else 0
    out["fused.crossing_s"] = (
        out["fused.annotate.task_run_s"] - annotate_rows * kernel["fused.kernel_s_per_doc"]
    )
    out.update(wl.layer_metrics())
    for key in EXTRA_UNITS:
        out.setdefault(key, 0.0)

    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    own = tracer.self_times()
    with open(os.path.join(work, "traces", f"{args.workload}-{args.seed}.json"), "w",
              encoding="utf-8") as fh:
        json.dump({"spans": [{**s, "self_s": own[s["id"]]} for s in tracer.spans],
                   "jobs": folded}, fh, default=str)
    units = {**spans.span_units(), **replay.KERNEL_UNITS, **EXTRA_UNITS}
    return {k: (v, units[k]) for k, v in out.items()}, ops + after + [(0.0, 0, 0, ok)]


def replay_sample(wl, seed: int) -> tuple:
    """Replay the kernel over a seed-chosen sample of the workload's rows;
    ok when it agrees with ``annotate_fused`` on the same rows."""
    n = wl.corpus.count()
    sample = wl.corpus.where(
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(n)) < REPLAY_DOCS
    ).orderBy("doc_id")
    rows = sample.select("doc_id", "content").collect()
    fused = {
        r["doc_id"]: r
        for r in annotate_corpus(sample, wl.cfg, wl.kb)
        .select("doc_id", "ents", "rels", "kb_ids")
        .collect()
    }
    results, metrics = replay.replay([r["content"] or "" for r in rows], wl.cfg, wl.kb)
    ok = len(fused) == len(rows) and all(
        (
            [tuple(e) for e in fused[r["doc_id"]]["ents"]],
            [tuple(x) for x in fused[r["doc_id"]]["rels"]],
            list(fused[r["doc_id"]]["kb_ids"]),
        ) == (ents, rels, kb_ids)
        for r, (ents, rels, kb_ids) in zip(rows, results)
    )
    return metrics, ok
