#!/usr/bin/env python3
"""quanta-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (why each exists, and its
input knobs: perfbench/WORKLOADS.md):

- ``ingest``    backlog drain through the stage chain into IdempotentSink
- ``sessions``  backlog drain through reply_session_stats
- ``batch_ops`` six batch legs of the query registry

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` is the
separate traced run: Spark's event log is on, it reports the per-layer
metrics, writes spans, compares its end-to-end numbers with this
checkout's untraced runs (the tracing overhead), and on ingest and
sessions adds a local[1] drain for the scaling baseline. Either way the
last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the full report and the spans go to
``perfbench/.work/reports/``.

Everything the run writes stays under ``perfbench/.work/`` (inputs are
cached there per workload and seed); it exits non-zero without a
result when the ``quanta_spark`` package is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: end-to-end metrics: (name, unit); defined for every workload
E2E = [
    ("throughput_tps", "rows/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("batch_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MiB"),
]

#: per-layer metrics: (name, unit); a layer whose work is absent from a
#: workload reports 0
LAYERS = (
    [("session.get_spark_s", "s"), ("session.warmup_s", "s")]
    + [("sources.rows_in", "count"), ("sources.scan_amplification", "ratio")]
    + [(f"engine.{n}", "count") for n in ("batches", "empty_batches")]
    + [(f"engine.{n}", "ms") for n in (
        "trigger_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms", "edge_batches_ms", "between_triggers_ms",
        "trigger_p50_ms")]
    + [("engine.coverage", "ratio")]
    + [("stages.dlq_rows", "count"), ("stages.dlq_precision", "ratio"),
       ("stages.python_bytes_sent", "bytes"), ("stages.python_bytes_returned", "bytes"),
       ("stages.cpu_ms", "ms")]
    + [("state.rows_total", "count"), ("state.rows_updated", "count"),
       ("state.rows_removed", "count"), ("state.memory_bytes_max", "bytes"),
       ("state.commit_ms", "ms"), ("state.updates_ms", "ms"), ("state.removals_ms", "ms"),
       ("state.rows_dropped_late", "count"), ("state.rocksdb_checkpoint_ms", "ms"),
       ("state.rocksdb_flush_ms", "ms"), ("state.rocksdb_file_sync_ms", "ms"),
       ("state.rocksdb_bytes_copied", "bytes"), ("state.cpu_ms", "ms")]
    + [(f"state.{m}.{op}", unit)
       for op in ("symmetricHashJoin", "sessionWindowStateStoreSaveExec")
       for m, unit in (("rows_total", "count"), ("commit_ms", "ms"), ("updates_ms", "ms"))]
    + [("sink.calls", "count"), ("sink.call_ms", "ms"), ("sink.call_p50_ms", "ms"),
       ("sink.rows_ok", "count"), ("sink.rows_dlq", "count"), ("sink.rows_deduped", "count"),
       ("sink.files_written", "count"), ("sink.bytes_written", "bytes"),
       ("sink.write_ok_ms", "ms"), ("sink.write_dlq_ms", "ms"), ("sink.write_lineage_ms", "ms")]
    + [("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
       ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
       ("exec.task_skew", "ratio"), ("exec.scaling_eff", "ratio"),
       ("exec.tps_local_n", "rows/s"), ("exec.tps_local_1", "rows/s"), ("exec.cores", "count")]
    + [(f"queries.{leg}.{part}", "s")
       for leg in ("q13_session_windows", "q16_two_phase_conv_stats", "q21_exact_dedup",
                   "q22_ngram_jaccard", "q27_cosine_topk", "q28_minhash_xxhash64")
       for part in ("plan_s", "exec_s")]
    + [("gen.turns", "count"), ("gen.files", "count"),
       ("box.busy_cores", "cores"), ("box.steal_cores", "cores")]
    + [("trace.overhead_frac", "ratio")]
)

#: the end-to-end metric the tracing overhead is reported on
PRIMARY = {"ingest": "throughput_tps", "sessions": "throughput_tps", "batch_ops": "batch_s"}


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and Python write under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # A 1 GiB heap instead of the package's 8g default: in local mode
    # the driver JVM is also the executor, the box's memory is shared,
    # and a capped heap keeps peak_rss_mb from following the collector's
    # sizing policy. A memory regression then shows as exec.gc_ms or an
    # out-of-memory failure rather than as RSS (perfbench/WORKLOADS.md).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark(cores: int, event_log: str | None):
    from quanta_spark.session import get_spark

    conf = {
        "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def _untraced_median(workload: str) -> dict[str, float] | None:
    """Median end-to-end numbers of the untraced runs of ``workload``
    already reported in this checkout: the traced run is compared with
    them for the tracing overhead."""
    import glob

    runs = []
    for path in glob.glob(os.path.join(WORK, "reports", f"{workload}-s*-t0.json")):
        with open(path) as f:
            runs.append(json.load(f)["e2e"])
    if not runs:
        return None
    return {name: statistics.median(r[name] for r in runs) for name, _u in E2E[:4]}


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers it forked
    to exit. The workers are listed first: once the JVM is gone they are
    no longer this process's descendants."""
    from pyspark import SparkContext

    from box import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def _measure(W, spark, inp, run_dir: str, seconds: float, rss, layers: bool):
    """The timed region, then the oracle and the report. The memory
    peak is taken when the timed region ends, so the oracle's own reads
    never set it."""
    from box import busy_steal_cores, cpu_jiffies
    from workloads import Outcome

    out = Outcome()
    j0, t0 = cpu_jiffies(), time.time()
    out.runs = W.measure(spark, inp, run_dir, seconds, "m")
    out.window = (t0, time.time())
    rss.stop()
    out.e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
    out.layers["box.busy_cores"], out.layers["box.steal_cores"] = busy_steal_cores(j0, cpu_jiffies())
    W.check(spark, inp, out)
    W.report(spark, inp, out)
    if layers:
        W.layers(spark, inp, out)
    return out


def _spans(W, out, events, spans) -> None:
    import tracing as T

    root = spans.add(f"workload.{W.name}", *out.window, None)
    if W.name == "batch_ops":
        for i, p in enumerate(out.runs):
            pid = spans.add("pass", min(v[0] for v in p.values()), max(v[2] for v in p.values()), root, index=i)
            for leg, (t0, t1, t2) in p.items():
                lid = spans.add(f"leg.{leg}", t0, t2, pid)
                spans.add("plan", t0, t1, lid)
                spans.add("exec", t1, t2, lid)
        return
    for q in out.runs:
        qid = spans.add("query", q.start, q.end, root, query=q.name)
        add_batch = T.progress_spans(spans, qid, q.name, q.progress)
        call_span = {}
        for b, s, e in q.timed.calls:
            call_span[b] = spans.add("sink.call", s, e, add_batch.get(b, qid), batch_id=b)
        for section, sink_dir, b, s, e in events.writes:
            if sink_dir.endswith(q.sink.base_dir) and b in call_span:
                spans.add(f"sink.write.{section}", s, e, call_span[b], batch_id=b)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "sessions", "batch_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "quanta_spark", "__init__.py")):
        print(f"perfbench: no quanta_spark package in {ROOT}", file=sys.stderr)
        return 2
    _isolate_env()
    sys.path.insert(0, ROOT)
    import inputs
    import tracing as T
    from box import STEAL_FLAG_CORES, RssSampler
    from workloads import WORKLOADS

    t_begin = time.time()
    cores = len(os.sched_getaffinity(0))
    W = WORKLOADS[args.workload]()
    seconds = args.seconds
    inp = inputs.prepare(os.path.join(WORK, "inputs"), W.name, args.seed)
    inputs_s = time.time() - t_begin
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None

    spark = None
    rss = RssSampler()
    try:
        rss.start()
        t0 = time.time()
        spark = _spark(cores, event_log)
        get_spark_s = time.time() - t0
        t0 = time.time()
        W.warm(spark, inp, os.path.join(run_dir, "warm"))
        warmup_s = time.time() - t0
        out = _measure(W, spark, inp, run_dir, seconds, rss, bool(args.trace))
        if args.trace and W.name in ("ingest", "sessions"):
            # single-core baseline on a subset of the backlog; each
            # session drains it once untimed first
            tps_n = W.scaling_drain(spark, inp, run_dir, "scale_n")
            spark.stop()  # the JVM stays up; the next session is local[1]
            spark = _spark(1, event_log + "1")
            W.scaling_drain(spark, inp, run_dir, "scale_1w")
            tps_1 = W.scaling_drain(spark, inp, run_dir, "scale_1")
            out.layers.update({
                "exec.tps_local_n": tps_n, "exec.tps_local_1": tps_1,
                "exec.scaling_eff": tps_n / (cores * tps_1),
            })
        _shutdown(spark)
        spark = None
        out.e2e["setup_s"] = get_spark_s + warmup_s
        out.samples["setup_s"] = out.samples["peak_rss_mb"] = 1

        report = {
            "workload": W.name, "seed": args.seed, "seconds": seconds, "trace": args.trace,
            "cores": cores, "e2e": out.e2e, "samples": out.samples,
            "checks": out.checks,
            "box": {k: out.layers[k] for k in ("box.busy_cores", "box.steal_cores")},
            "units": [
                {"wall_s": q.wall, "trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in q.progress]}
                if hasattr(q, "progress") else {leg: v[2] - v[0] for leg, v in q.items()}
                for q in out.runs
            ],
        }
        untraced = None
        if args.trace:
            events = T.EventLog(T.read_event_log(event_log), *out.window,
                                "queries" if W.name == "batch_ops" else "sink")
            layers = dict(out.layers)
            layers.update(events.exec_metrics())
            layers.update(events.write_ms())
            layers["session.get_spark_s"], layers["session.warmup_s"] = get_spark_s, warmup_s
            layers["exec.cores"] = cores
            untraced = _untraced_median(W.name)
            if untraced:
                key = PRIMARY[W.name]
                layers["trace.overhead_frac"] = (out.e2e[key] - untraced[key]) / untraced[key]
            spans = T.Spans()
            _spans(W, out, events, spans)
            span_path = os.path.join(WORK, "reports", f"{W.name}-s{args.seed}.spans.json")
            spans.write(span_path)
            report.update(layers=layers, spans=span_path, untraced_median=untraced)
        correct = all(ok for _n, ok, _d in out.checks)

        # -- human-readable report -------------------------------------------
        print(f"workload={W.name} seed={args.seed} seconds={seconds:g} trace={args.trace} "
              f"cores={cores} run_wall_s={time.time() - t_begin:.1f} inputs_s={inputs_s:.1f} "
              f"measured_s={out.window[1] - out.window[0]:.1f}")
        units = dict(E2E)
        for name, _unit in E2E:
            print(f"  {name:<16} {out.e2e[name]:>14.4f} {units[name]:<7} samples={out.samples[name]}")
        print(f"  {'failed_frac':<16} {out.failed / max(out.attempted, 1):>14.6f} share   "
              f"attempted={out.attempted}")
        for name, ok, detail in out.checks:
            print(f"  oracle {'PASS' if ok else 'FAIL'}  {name}  ({detail})")
        steal = out.layers["box.steal_cores"]
        print(f"  box busy_cores={out.layers['box.busy_cores']:.2f} steal_cores={steal:.2f}"
              + ("  CONTAMINATED: neighbour steal" if steal > STEAL_FLAG_CORES else ""))
        if args.trace:
            if untraced:
                print("  tracing overhead: this traced run against the median of this checkout's "
                      "untraced runs of the workload:")
                for name, unit in E2E[:4]:
                    d = (out.e2e[name] - untraced[name]) / untraced[name]
                    print(f"    {name:<16} traced={out.e2e[name]:.4f} untraced={untraced[name]:.4f} "
                          f"{unit}  overhead={d:+.3f}")
            else:
                print("  tracing overhead: no untraced run of this workload in this checkout yet")
            if W.name != "batch_ops":
                cov = report["layers"]["engine.coverage"]
                print(f"  layer coverage: engine phases + between-trigger = {cov:.3f} of wall "
                      f"({'ok' if cov >= 0.95 else 'BELOW 0.95'})")
            for name, unit in LAYERS:
                print(f"  {name:<44} {report['layers'].get(name, 0.0):>16.4f} {unit}")
            print(f"  spans: {span_path}")

        os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
        with open(os.path.join(WORK, "reports", f"{W.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)

        if args.trace:
            metrics = {n: {"value": float(report["layers"].get(n, 0.0)), "unit": u} for n, u in LAYERS}
        else:
            metrics = {n: {"value": float(out.e2e[n]), "unit": u} for n, u in E2E}
        print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed,
                          "metrics": metrics}))
        return 0
    finally:
        rss.stop()
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
