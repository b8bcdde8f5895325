"""Seeded benchmark inputs, generated outside every timed region and
cached per workload and seed.

Every input is a pure function of ``(workload, seed)`` built on
``quanta_spark.datagen``; the program under test sees only the files
written here. Each cached input dir holds the files the program reads
plus a ``truth.parquet`` the oracles read, and a ``_DONE`` marker
written last, so a run killed mid-generation never leaves a half input
that a later run would trust.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from quanta_spark.datagen import (
    GenSpec,
    generate,
    stamp_arrival_order,
    write_documents_embeddings,
    write_events,
    write_heartbeat_file,
)
from quanta_spark.operators.stages import PII_EMAIL_RE, PII_PHONE_RE

# Bump when a generator below changes, so stale caches are not reused.
_VERSION = "v4"

#: transcript files as the program's file source reads them
ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string(), nullable=True),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)

WATERMARK_S = 3600  # the operators' default "1 hour" watermark


# -- knobs (recorded in perfbench/WORKLOADS.md) --------------------------

#: ingest and sessions: the same-shaped backlog, drained in three
#: batches (three, so p50 and p90 latency fall inside different
#: batches). Sessions drains slower, so its backlog is smaller; both fit
#: two drains in a run.
INGEST_CONVS = 5400
SESSIONS_CONVS = 1400
BACKLOG_FILES = 9
BACKLOG_FILES_PER_TRIGGER = 3
MEGA_FRAC = 0.02  # share of all turns in one mega-conversation
SHUFFLE_FRAC = 0.10  # out of order, within the watermark
LATE_FRAC = 0.005  # delayed beyond the watermark

#: ingest only
PII_FRAC = 0.05  # turns carrying an email or a phone number
POISON_FRAC = 0.0005  # turns the vectorized stage raises on
DUP_FRAC = 0.01  # turns written twice in their own file (producer retry)
POISON_MARK = "~poison~"

#: batch_ops table sizes
BATCH_EVENTS = 5000
BATCH_DOCS = 1000
BATCH_VECS = 600


def _transcript_spec(n_convs: int, seed: int) -> GenSpec:
    return GenSpec(
        n_convs=n_convs,
        mean_turns=16,
        seed=seed,
        mega_frac=MEGA_FRAC,
        shuffle_frac=SHUFFLE_FRAC,
        late_frac=LATE_FRAC,
        watermark_s=WATERMARK_S,
    )


@dataclass(frozen=True)
class Input:
    root: str

    @property
    def stream_dir(self) -> str:
        """The watched directory (transcript workloads) or the table dir
        (batch_ops)."""
        return os.path.join(self.root, "in")

    @property
    def truth_path(self) -> str:
        return os.path.join(self.root, "truth.parquet")

    def truth(self) -> pd.DataFrame:
        return pd.read_parquet(self.truth_path)


def _write_files(out_dir: str, df: pd.DataFrame, n_files: int) -> list[str]:
    """Write ``df`` (already in arrival order, with a ``file`` column)
    as one parquet file per distinct ``file`` value, and stamp strictly
    increasing mtimes so the file source replays them in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(n_files):
        part = df[df["file"] == k]
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        table = pa.Table.from_pandas(
            part[ARROW_SCHEMA.names], schema=ARROW_SCHEMA, preserve_index=False
        )
        pq.write_table(table, path)
        paths.append(path)
    stamp_arrival_order(paths)
    return paths


def _arrival_files(gen: pd.DataFrame, n_files: int) -> pd.DataFrame:
    """Sort by arrival and assign contiguous arrival slices to files."""
    gen = gen.sort_values("arrival_ts", kind="mergesort").reset_index(drop=True)
    gen["file"] = np.repeat(
        np.arange(n_files), [len(c) for c in np.array_split(np.arange(len(gen)), n_files)]
    )
    gen["late"] = (gen["arrival_ts"] - gen["ts"]) >= pd.Timedelta(seconds=WATERMARK_S)
    return gen


def _expected_text(text: pd.Series) -> pd.Series:
    """The ingest chain's result computed without Spark: redact_pii's
    two regex replacements, then the benchmark's uppercase stage."""
    email, phone = re.compile(PII_EMAIL_RE), re.compile(PII_PHONE_RE)
    return text.map(lambda t: phone.sub("[PHONE]", email.sub("[EMAIL]", t)).upper())


def _build_ingest(root: str, seed: int) -> None:
    gen = _arrival_files(generate(_transcript_spec(INGEST_CONVS, seed)), BACKLOG_FILES)
    rng = np.random.default_rng(seed + 1)
    n = len(gen)
    text = gen["text"].astype(object).to_numpy()
    pii = np.flatnonzero(rng.random(n) < PII_FRAC)
    for i in pii:
        if rng.random() < 0.5:
            text[i] = f"mail u{i}.x@example.org {text[i]}"
        else:
            text[i] = f"call +1 (555) {i % 1000:03d}-{i % 9973:04d} {text[i]}"
    poison = rng.random(n) < POISON_FRAC
    for i in np.flatnonzero(poison):
        text[i] = f"{text[i]} {POISON_MARK}"
    gen["text"] = text
    gen["poison"] = poison
    # producer-retry copies: an exact copy written right after the
    # original, in the original's file (never a poison turn, so the DLQ
    # count stays the planted count)
    dup = (rng.random(n) < DUP_FRAC) & ~poison
    gen["copies"] = np.where(dup, 2, 1)
    stream = gen.loc[gen.index.repeat(gen["copies"])].reset_index(drop=True)
    _write_files(os.path.join(root, "in"), stream, BACKLOG_FILES)
    truth = gen[["conv_id", "turn_idx", "file", "poison", "copies"]].copy()
    truth["expected"] = _expected_text(gen["text"])
    truth.to_parquet(os.path.join(root, "truth.parquet"), index=False)


def _build_sessions(root: str, seed: int) -> None:
    gen = _arrival_files(generate(_transcript_spec(SESSIONS_CONVS, seed)), BACKLOG_FILES)
    in_dir = os.path.join(root, "in")
    _write_files(in_dir, gen, BACKLOG_FILES)
    # far-future heartbeat: advances the watermark past all real data
    # so every session window closes at the end of the backlog
    write_heartbeat_file(in_dir, gen["ts"].max() + pd.Timedelta(days=30))
    gen[["conv_id", "turn_idx", "role", "text", "tool", "ts", "file", "late"]].to_parquet(
        os.path.join(root, "truth.parquet"), index=False
    )


def _build_batch(root: str, seed: int) -> None:
    in_dir = os.path.join(root, "in")
    write_events(in_dir, BATCH_EVENTS, seed=seed)
    write_documents_embeddings(in_dir, BATCH_DOCS, BATCH_VECS, seed=seed)


def prepare(cache_dir: str, workload: str, seed: int) -> Input:
    """Return the cached input for ``(workload, seed)``, building it
    first when absent."""
    root = os.path.join(cache_dir, f"{workload}-s{seed}-{_VERSION}")
    if os.path.exists(os.path.join(root, "_DONE")):
        return Input(root)
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "ingest":
        _build_ingest(tmp, seed)
    elif workload == "sessions":
        _build_sessions(tmp, seed)
    elif workload == "batch_ops":
        _build_batch(tmp, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return Input(root)
