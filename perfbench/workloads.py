"""The three workloads, each driven only through the package's public
entry points: ``sources.readers.stream_transcripts_files``,
``operators.stages.apply_chain`` / ``Stage``,
``operators.stateful.reply_session_stats``,
``sinks.idempotent.IdempotentSink``, ``streaming.engine.start_pipeline``
(and the ``QueryHandle.query`` it returns) and ``queries``.

Every workload has four steps, run in this order by ``run.py``:
``warm`` (an untimed pass of the pipeline shape), ``measure`` (the
timed region), ``check`` (the oracle, which counts each operation whose
outcome is wrong or never committed), ``report`` (end-to-end numbers)
and, in the traced pass, ``layers`` (per-layer numbers).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from quanta_spark import queries as Q
from quanta_spark.datagen import HEARTBEAT_CONV
from quanta_spark.operators.stages import RetryPolicy, Stage, apply_chain
from quanta_spark.operators.stateful import reply_session_stats
from quanta_spark.sinks.idempotent import IdempotentSink
from quanta_spark.sources.readers import read_transcripts_batch, stream_transcripts_files
from quanta_spark.streaming.engine import start_pipeline

import inputs as I
import tracing as T


BATCH_LEGS = [
    "q13_session_windows",
    "q16_two_phase_conv_stats",
    "q21_exact_dedup",
    "q22_ngram_jaccard",
    "q27_cosine_topk",
    "q28_minhash_xxhash64",
]


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    e2e: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    runs: list = field(default_factory=list)  # Query objects, or batch passes
    window: tuple[float, float] = (0.0, 0.0)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def _pct(samples: np.ndarray, q: float) -> float:
    return float(np.percentile(samples, q)) if len(samples) else 0.0


def _latency(out: Outcome, per_unit: list[np.ndarray]) -> None:
    """Per-row latency percentiles of each timed unit (a drain or a
    pass), then the median over units. Within one unit the rows of a
    batch share one commit time; merging units would put p50 on the
    step between two units' batches."""
    out.e2e["latency_p50_s"] = statistics.median(_pct(s, 50) for s in per_unit)
    out.e2e["latency_p90_s"] = statistics.median(_pct(s, 90) for s in per_unit)
    out.samples["latency_p50_s"] = out.samples["latency_p90_s"] = sum(len(s) for s in per_unit)


def unit_count(seconds: float, unit_s: float) -> int:
    """Timed units (drains or passes) per run: ``seconds // unit_s``, at
    least one. The count depends only on ``seconds``, never on how fast
    this run goes, so every run of a workload measures the same work."""
    return max(1, int(seconds // unit_s))


# -- streaming plumbing -----------------------------------------------------


class TimedSink:
    """Times each ``IdempotentSink.__call__``; its return is the moment
    the batch's rows are committed."""

    def __init__(self, sink: IdempotentSink) -> None:
        self.sink = sink
        self.calls: list[tuple[int, float, float]] = []  # (batch id, start, end)

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self.sink(df, batch_id)
        self.calls.append((batch_id, t0, time.time()))

    def committed_at(self) -> dict[int, float]:
        return {b: end for b, _, end in self.calls}


@dataclass
class Query:
    name: str
    sink: IdempotentSink
    timed: TimedSink
    start: float
    end: float
    progress: list[dict]

    @property
    def wall(self) -> float:
        return self.end - self.start


def _settle(query, timeout_s: float = 30.0) -> None:
    """Wait until the engine has nothing left to run: once the last
    input is committed it may still owe a no-data batch that flushes
    watermark-bound state."""
    deadline = time.time() + timeout_s
    quiet = 0
    while quiet < 2 and time.time() < deadline:
        st = query.status
        idle = not st["isTriggerActive"] and st["message"].startswith("Waiting for data")
        quiet = quiet + 1 if idle else 0
        time.sleep(0.05)


def drain(spark, in_dir: str, op, out_dir: str, name: str) -> Query:
    """One closed-loop drain of input already on disk: start the
    pipeline, process everything, stop."""
    sink = IdempotentSink(base_dir=os.path.join(out_dir, "sink"))
    timed = TimedSink(sink)
    src = stream_transcripts_files(spark, in_dir, max_files_per_trigger=I.BACKLOG_FILES_PER_TRIGGER)
    start = time.time()
    query = start_pipeline(op(src), timed, os.path.join(out_dir, "ckpt"), query_name=name).query
    query.processAllAvailable()
    _settle(query)
    query.stop()
    query.awaitTermination(60)
    end = time.time()
    progress = [json.loads(p.json) for p in query.recentProgress]
    return Query(name, sink, timed, start, end, progress)


def _sink_file_stats(queries: list[Query]) -> tuple[int, int]:
    files = size = 0
    for q in queries:
        for dirpath, _dirs, names in os.walk(q.sink.base_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Streaming:
    """What the two streaming workloads share."""

    name = ""

    def op(self, src):
        raise NotImplementedError

    def stream_rows(self, inp) -> int:
        """Rows in the files the source reads."""
        raise NotImplementedError

    def first_batch(self, inp, work: str, tag: str) -> tuple[str, int]:
        """Copy the backlog's first batch of files (plus the heartbeat,
        where the backlog has one) to a dir of its own; return the dir
        and its row count."""
        sub = os.path.join(work, f"{tag}_in")
        os.makedirs(sub, exist_ok=True)
        names = sorted(os.listdir(inp.stream_dir))
        keep = names[:I.BACKLOG_FILES_PER_TRIGGER] + [n for n in names if n.startswith("zz-")]
        for n in keep:
            shutil.copy2(os.path.join(inp.stream_dir, n), os.path.join(sub, n))
        rows = sum(len(pd.read_parquet(os.path.join(sub, n), columns=["turn_idx"])) for n in keep)
        return sub, rows

    def warm(self, spark, inp, work: str) -> None:
        """Untimed: one drain of the backlog's first batch through the
        same pipeline, so code generation, JIT compilation and the
        Python worker pool have settled before timing starts."""
        sub, _rows = self.first_batch(inp, work, "warm")
        drain(spark, sub, self.op, os.path.join(work, "warm"), f"warm_{self.name}")

    def measure(self, spark, inp, work: str, seconds: float, tag: str) -> list[Query]:
        """Closed loop: drain the whole backlog again and again, each
        time from a fresh checkpoint and sink."""
        return [
            drain(spark, inp.stream_dir, self.op, os.path.join(work, f"{tag}{i}"), f"{tag}{i}")
            for i in range(unit_count(seconds, self.unit_s))
        ]

    def scaling_drain(self, spark, inp, work: str, tag: str) -> float:
        """Turns/s of one drain of the backlog's first batch."""
        sub, rows = self.first_batch(inp, work, tag)
        q = drain(spark, sub, self.op, os.path.join(work, tag), tag)
        return rows / q.wall

    def report(self, spark, inp, out: Outcome) -> None:
        queries = out.runs
        tps = [self.stream_rows(inp) / q.wall for q in queries]
        out.e2e["throughput_tps"] = statistics.median(tps)
        out.samples["throughput_tps"] = len(tps)
        trig = [
            p["durationMs"].get("triggerExecution", 0) / 1000
            for q in queries for p in q.progress if p["numInputRows"] > 0
        ]
        out.e2e["batch_s"] = statistics.median(trig)
        out.samples["batch_s"] = len(trig)
        # Backlog: every turn exists when the drain starts, so a row's
        # latency runs from the drain's start to its batch's commit.
        per_drain = []
        for q in queries:
            at = q.timed.committed_at()
            counts = q.sink.read_data(spark).groupBy("batch_id").count().collect()
            per_drain.append(np.repeat([at[r["batch_id"]] - q.start for r in counts],
                                       [r["count"] for r in counts]))
        _latency(out, per_drain)

    def layers(self, spark, inp, out: Outcome) -> None:
        queries = out.runs
        progress = [p for q in queries for p in q.progress]
        out.layers.update(T.engine_metrics([(q.wall, q.progress) for q in queries]))
        rows_in = T.source_rows(progress)
        out.layers["sources.rows_in"] = rows_in
        out.layers["sources.scan_amplification"] = rows_in / (self.stream_rows(inp) * len(queries))
        out.layers.update(T.state_metrics(progress))
        calls = [c for q in queries for c in q.timed.calls]
        durs = [(end - start) * 1000 for _b, start, end in calls]
        out.layers["sink.calls"] = len(calls)
        out.layers["sink.call_ms"] = sum(durs)
        out.layers["sink.call_p50_ms"] = statistics.median(durs) if durs else 0.0
        ok = dlq = lineage_rows = 0
        for q in queries:
            ok += q.sink.read_data(spark).count()
            if os.path.isdir(q.sink.dlq_dir):
                dlq += q.sink.read_dlq(spark).count()
            lineage_rows += q.sink.read_lineage(spark).agg({"n_rows": "sum"}).first()[0] or 0
        out.layers["sink.rows_ok"] = ok
        out.layers["sink.rows_dlq"] = dlq
        out.layers["sink.rows_deduped"] = lineage_rows - ok - dlq
        out.layers["sink.files_written"], out.layers["sink.bytes_written"] = _sink_file_stats(queries)
        out.layers["gen.turns"] = len(inp.truth())


# -- ingest -----------------------------------------------------------------


def upper_stage() -> Stage:
    """The reference's uppercase plugin as a pandas ``batch_fn``: it
    uppercases the text and records ``transformed_by``, and raises on
    any Arrow batch that holds a planted poison turn, so the runner's
    bisection routes exactly those turns to the DLQ. Built in a closure
    so Spark ships the function by value to its Python workers."""
    mark = I.POISON_MARK

    def upper(pdf):
        if pdf["text"].str.contains(mark, regex=False).any():
            raise ValueError("poison turn")
        attrs = [dict(m) | {"transformed_by": "uppercase"} for m in pdf["_attrs"]]
        return pdf.assign(text=pdf["text"].str.upper(), _attrs=attrs)

    # deterministic poison never heals: one retry, short backoff
    return Stage(name="uppercase_vectorized", batch_fn=upper,
                 retry=RetryPolicy(attempts=1, backoff_ms=20))


class Ingest(Streaming):
    name = "ingest"
    unit_s = 6.0  # nominal drain time on a 4-core box

    def op(self, src):
        return apply_chain(src, ["redact_pii", upper_stage()])

    def stream_rows(self, inp) -> int:
        return int(inp.truth()["copies"].sum())

    def check(self, spark, inp, out: Outcome) -> None:
        truth = inp.truth()
        truth["file"] = truth["file"].map(lambda k: f"part-{k:05d}.parquet")
        key = ["conv_id", "turn_idx"]
        good, poison = truth[~truth["poison"]], truth[truth["poison"]]
        rows_per_file = truth.groupby("file")["copies"].sum()
        # DLQ precision for the traced pass: planted keys among the
        # distinct DLQ keys, summed over drains
        self.dlq_keys = self.dlq_planted = 0
        for q in out.runs:
            ok = q.sink.read_data(spark).select("conv_id", "turn_idx", "text", "_attrs").toPandas()
            dlq = q.sink.read_dlq(spark).select("conv_id", "turn_idx").toPandas()
            lin = q.sink.read_lineage(spark).select("src_partition", "n_rows").toPandas()
            dups = int(ok.duplicated(key).sum())
            ok = ok.drop_duplicates(key)
            m = good.merge(ok, on=key, how="left", indicator=True)
            missing = int((m["_merge"] == "left_only").sum())
            found = m[m["_merge"] == "both"]
            wrong = int((found["text"] != found["expected"]).sum())
            wrong += int(sum(dict(a).get("transformed_by") != "uppercase" for a in found["_attrs"]))
            extra = len(ok) - len(found)
            dm = poison.merge(dlq, on=key, how="outer", indicator=True)
            dlq_bad = int((dm["_merge"] != "both").sum()) + int(dlq.duplicated(key).sum())
            dlq_keys = dlq.drop_duplicates(key)
            self.dlq_keys += len(dlq_keys)
            self.dlq_planted += len(dlq_keys.merge(poison[key], on=key))
            lin["file"] = lin["src_partition"].map(os.path.basename)
            per_file = lin.groupby("file")["n_rows"].agg(["size", "sum"])
            bad_files = sorted(
                f for f in set(rows_per_file.index) | set(per_file.index)
                if f not in per_file.index or f not in rows_per_file.index
                or per_file.loc[f, "size"] != 1 or per_file.loc[f, "sum"] != rows_per_file[f]
            )
            failed = dups + missing + wrong + extra + dlq_bad
            failed += int(sum(rows_per_file.get(f, 0) for f in bad_files))
            out.attempted += len(truth)
            out.failed += min(failed, len(truth))
            out.check(f"{q.name}: committed ok keys = non-poison keys, once, expected text",
                      dups + missing + wrong + extra == 0,
                      f"dups={dups} missing={missing} wrong={wrong} extra={extra}")
            out.check(f"{q.name}: DLQ keys = planted poison", dlq_bad == 0,
                      f"dlq={len(dlq)} poison={len(poison)}")
            out.check(f"{q.name}: lineage covers every source file once", not bad_files,
                      f"bad={bad_files[:3]}")

    def layers(self, spark, inp, out: Outcome) -> None:
        super().layers(spark, inp, out)
        out.layers["stages.dlq_rows"] = out.layers["sink.rows_dlq"]
        out.layers["stages.dlq_precision"] = self.dlq_planted / self.dlq_keys if self.dlq_keys else 0.0
        out.layers["gen.files"] = I.BACKLOG_FILES


# -- sessions ---------------------------------------------------------------


class Sessions(Streaming):
    name = "sessions"
    unit_s = 9.0

    def op(self, src):
        return reply_session_stats(src)

    def stream_rows(self, inp) -> int:
        return len(inp.truth()) + 2  # + the heartbeat's two rows

    def check(self, spark, inp, out: Outcome) -> None:
        truth = inp.truth()
        cols = ["conv_id", "session_start", "session_end", "n_replies", "avg_latency_us",
                "first_user_turn", "last_reply_turn"]
        # the generator knows which conversations had a turn delayed
        # past the watermark; the streaming result may differ only there
        late = set(truth.loc[truth["late"], "conv_id"]) | {HEARTBEAT_CONV}
        turns = truth.groupby("conv_id").size()

        def by_conv(df: pd.DataFrame) -> dict[str, list]:
            df = df[~df["conv_id"].isin(late)][cols].astype(str)
            return {c: sorted(map(tuple, g.to_numpy())) for c, g in df.groupby("conv_id")}

        expected = by_conv(
            reply_session_stats(read_transcripts_batch(spark, inp.stream_dir)).toPandas()
        )
        for q in out.runs:
            got = by_conv(q.sink.read_data(spark).select(*cols).toPandas())
            bad = [c for c in set(expected) | set(got) if expected.get(c) != got.get(c)]
            out.attempted += len(truth)
            out.failed += int(sum(turns.get(c, 0) for c in bad))
            out.check(f"{q.name}: sessions = batch reply_session_stats on on-time conversations",
                      not bad, f"convs={len(expected)} mismatched={len(bad)} "
                      f"skipped_late_convs={len(late) - 1}")

    def layers(self, spark, inp, out: Outcome) -> None:
        super().layers(spark, inp, out)
        out.layers["gen.files"] = I.BACKLOG_FILES + 1


# -- batch_ops --------------------------------------------------------------


def _leg_fn(name: str):
    return Q.bench_minhash_xxhash64 if name == "q28_minhash_xxhash64" else Q.QUERY_FNS[name]


class BatchOps:
    """Six transcript and document legs of the batch query registry,
    each planned, then executed into the ``noop`` sink."""

    name = "batch_ops"
    unit_s = 8.0  # nominal pass time on a 4-core box

    def _pass(self, spark, tables: str, collect: bool = False):
        legs, results = {}, {}
        for leg in BATCH_LEGS:
            t0 = time.time()
            df = _leg_fn(leg)(spark, tables)
            df._jdf.queryExecution().executedPlan()
            t1 = time.time()
            if collect:
                results[leg] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            legs[leg] = (t0, t1, time.time())
        # The MinHash leg persists its signatures and never releases them;
        # clearing the cache keeps the next pass from reading this
        # pass's signatures instead of computing its own.
        spark.catalog.clearCache()
        return results if collect else legs

    def warm(self, spark, inp, work: str) -> None:
        """The untimed first pass keeps its results for the oracle."""
        self.results = self._pass(spark, inp.stream_dir, collect=True)

    def measure(self, spark, inp, work: str, seconds: float, tag: str) -> list[dict]:
        return [self._pass(spark, inp.stream_dir) for _ in range(unit_count(seconds, self.unit_s))]

    def check(self, spark, inp, out: Outcome) -> None:
        from oracle_compare import duck_frame, normalize

        tables = inp.stream_dir
        bad_legs = 0
        for leg in BATCH_LEGS:
            got = self.results[leg]
            if leg == "q28_minhash_xxhash64":
                ok, detail = self._planted_pairs(tables, got)
            else:
                want = normalize(duck_frame(Q.ORACLES[leg], tables), strict_tz=True)
                have = normalize(got)
                ok = list(have.columns) == list(want.columns) and have.equals(want)
                h = int(pd.util.hash_pandas_object(have, index=False).sum()) & 0xFFFFFFFF
                detail = f"rows={len(have)} oracle_rows={len(want)} hash={h:08x}"
            bad_legs += not ok
            out.check(f"{leg}: matches its oracle", ok, detail)
        out.attempted += len(BATCH_LEGS) * len(out.runs)
        out.failed += bad_legs * len(out.runs)

    @staticmethod
    def _planted_pairs(tables: str, got: pd.DataFrame) -> tuple[bool, str]:
        """Every pair of identical texts in the leg's input (the copies
        ``generate_documents`` plants, and the query's own doc_id % 10
        copies) must come back as a near-duplicate pair."""
        docs = pd.read_parquet(os.path.join(tables, "documents.parquet"), columns=["doc_id", "text"])
        copies = docs[docs["doc_id"] % 10 == 0].assign(doc_id=lambda d: d["doc_id"] + 1_000_000)
        docs2 = pd.concat([docs, copies])
        want = set()
        for ids in docs2.groupby("text")["doc_id"].agg(sorted):
            want.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        have = set(zip(got["doc_a"], got["doc_b"]))
        missed = want - have
        return not missed, f"planted_pairs={len(want)} missed={len(missed)} found_pairs={len(have)}"

    def report(self, spark, inp, out: Outcome) -> None:
        passes = out.runs
        totals = [sum(t2 - t0 for t0, _t1, t2 in p.values()) for p in passes]
        out.e2e["batch_s"] = statistics.median(totals)
        out.samples["batch_s"] = len(totals)
        n_docs2 = I.BATCH_DOCS + (I.BATCH_DOCS + 9) // 10
        rows_in = 2 * I.BATCH_EVENTS + 2 * n_docs2 + I.BATCH_DOCS + I.BATCH_VECS
        out.e2e["throughput_tps"] = rows_in / out.e2e["batch_s"]
        out.samples["throughput_tps"] = len(totals)
        # every output row of a leg is ready when the leg finishes
        _latency(out, [
            np.repeat([t2 - t0 for t0, _t1, t2 in p.values()],
                      [max(len(self.results[leg]), 1) for leg in p])
            for p in passes
        ])

    def layers(self, spark, inp, out: Outcome) -> None:
        passes = out.runs
        for leg in BATCH_LEGS:
            out.layers[f"queries.{leg}.plan_s"] = statistics.median(p[leg][1] - p[leg][0] for p in passes)
            out.layers[f"queries.{leg}.exec_s"] = statistics.median(p[leg][2] - p[leg][1] for p in passes)
        out.layers["gen.turns"] = 0
        out.layers["gen.files"] = 3


WORKLOADS = {w.name: w for w in (Ingest, Sessions, BatchOps)}
