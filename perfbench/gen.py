"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, index)``: the same seed
writes byte-identical parquet files, so two runs of one seed feed the
engine the same bytes. The engine only ever sees these files.

* :class:`FeedSpec` / :func:`events_file` — one file of the events raw
  schema (``event_id, ts, user_id, event_type, value, props``), the
  shape ``tables.raw_schema``/``normalize_table`` read unchanged.
  Event time advances ``event_span_s`` per file, far faster than the
  wall clock, so watermarked state evicts and levels off within a run.
  A share of rows is pushed back in event time by at most
  ``disorder_s`` (always inside the 10-minute watermark, so no row is
  ever late), and ``hot_share`` of the rows belong to user 0.
* :class:`OpenLoopWriter` — a single thread that publishes files on a
  fixed schedule and records when each was due and when it landed.
* :func:`documents_table` / :func:`embeddings_table` — the text corpus
  and the 64-d vector table the corpus jobs read, shaped like the
  sf0.1 fixture.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass(frozen=True)
class FeedSpec:
    events_per_file: int
    event_span_s: int      # event time one file covers
    disorder_s: int        # max backward event-time jitter (< watermark)
    disordered_share: float
    hot_share: float       # share of rows owned by user 0
    n_users: int
    event_types: tuple[str, ...]
    interval_s: float      # wall-clock spacing of the open loop


# A micro-batch costs a fixed part F plus about c = 0.1 s per file on a
# 4-core host, whatever the file's size. Files arriving every I seconds
# make a busy stream's batches last D = F / (1 - c / I), so a feed close
# to the stream's capacity turns any slowdown of the host into a much
# longer batch. At I = 0.2 s (c / I = 0.5) join latency doubled when
# hypervisor steal rose from 5 % to 15 %. The feeds below keep c / I at
# 0.2 or less, and carry their events in fewer, larger files. Latency
# still follows steal on a shared host (perfbench/METRICS.md).
#
# fire_stream: all event types, uniform users; ~3 frames per file (the
# frame synthesis samples event_id % 83 == 0).
FIRE_FEED = FeedSpec(
    events_per_file=250, event_span_s=300, disorder_s=300,
    disordered_share=0.1, hot_share=0.0, n_users=1000,
    event_types=EVENT_TYPES, interval_s=0.5,
)
# join_stream: clicks and purchases only, one hot user with 10 % of the
# rows; a file spans 10 minutes of event time, so the 1-hour join
# window holds about six files of state.
JOIN_FEED = FeedSpec(
    events_per_file=100, event_span_s=600, disorder_s=300,
    disordered_share=0.1, hot_share=0.1, n_users=1000,
    event_types=("click", "purchase"), interval_s=0.5,
)


def events_file(spec: FeedSpec, seed: int, index: int) -> pa.Table:
    """File ``index`` of the feed: event ids ``index*E .. index*E+E-1``,
    event times inside ``[index*span - disorder, (index+1)*span)``."""
    rng = np.random.default_rng([seed, index])
    n = spec.events_per_file
    span_us = spec.event_span_s * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    late = rng.random(n) < spec.disordered_share
    offs = offs - late * rng.integers(0, spec.disorder_s * 1_000_000, n)
    ts = BASE_TS_US + index * span_us + offs
    hot = rng.random(n) < spec.hot_share
    users = np.where(hot, 0, rng.integers(1, spec.n_users + 1, n))
    types = np.asarray(spec.event_types, dtype=object)[
        rng.integers(0, len(spec.event_types), n)
    ]
    values = np.round(rng.uniform(0.0, 100.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.Table.from_arrays(
        [
            pa.array(index * n + np.arange(n), pa.int64()),
            pa.array(ts, pa.timestamp("us")),
            pa.array(users, pa.int64()),
            pa.array(types, pa.string()),
            pa.array(values, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def file_name(index: int) -> str:
    return f"part-{index:06d}.parquet"


def file_index(path: str) -> int:
    """Inverse of :func:`file_name` for any path or ``file:`` URI."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return int(base[len("part-"):-len(".parquet")])


def publish(table: pa.Table, directory: str, index: int) -> str:
    """Write then rename, so a stream never lists a half-written file."""
    final = os.path.join(directory, file_name(index))
    tmp = os.path.join(directory, f".tmp-{index:06d}")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


class OpenLoopWriter:
    """Single-thread open-loop producer: file ``i`` is due at
    ``start + i * interval``. A stalled consumer does not slow the
    schedule; a stalled writer shows up as lateness."""

    def __init__(self, tables: list[pa.Table], directory: str,
                 first_index: int, interval_s: float):
        self.tables, self.directory = tables, directory
        self.first_index, self.interval_s = first_index, interval_s
        self.due: dict[int, float] = {}
        self.written: dict[int, float] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.error: BaseException | None = None

    def _run(self) -> None:
        try:
            start = time.perf_counter()
            for k, table in enumerate(self.tables):
                i = self.first_index + k
                due = start + k * self.interval_s
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self.due[i] = due
                publish(table, self.directory, i)
                self.written[i] = time.perf_counter()
        except BaseException as ex:  # surfaced by join()
            self.error = ex

    def start(self) -> None:
        self._thread.start()

    def join(self) -> None:
        self._thread.join()
        if self.error is not None:
            raise self.error

    def late_ms(self) -> list[float]:
        return [(self.written[i] - self.due[i]) * 1e3 for i in self.written]


# ------------------------------------------------------------ corpus
#
# The corpus follows the statistics of the repository's sf0.1 fixture
# (TESTDATA.md; read from its documents.parquet and embeddings.parquet):
#
# * 5000 documents of 10 to 100 words, uniformly, over a 31-word
#   vocabulary (the one below);
# * 233 groups hold 477 documents whose texts differ from another's by
#   one word appended or dropped at the end: about 4.9 % of documents
#   are such near-copies (3-shingle Jaccard about 0.97), plus 0.16 %
#   exact copies;
# * lang en 41 %, zh, es, fr and de 15 % each; sources src0..src19 in
#   turn;
# * 2000 unit-norm 64-d float32 vectors, isotropic, with labels 0..9
#   drawn independently of the vectors.

SF01_DOCS = 5000
SF01_VECS = 2000
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
NEAR_COPY_SHARE = 0.049
EXACT_COPY_SHARE = 0.0016


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Random-word documents shaped like the sf0.1 corpus; near-copies
    append or drop one word of an earlier document, so the
    near-duplicate jobs find the same kind of pairs and clusters."""
    rng = np.random.default_rng([seed, 1_000_003])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < EXACT_COPY_SHARE + NEAR_COPY_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            if r >= EXACT_COPY_SHARE:
                if len(words) == 100 or (len(words) > 10 and rng.random() < 0.5):
                    words = words[:-1]
                else:
                    words = words + [_VOCAB[int(rng.integers(0, len(_VOCAB)))]]
        else:
            n = int(rng.integers(10, 101))
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(rng.choice(_LANGS, n_docs, p=_LANG_P)), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n_vecs: int, dim: int = 64,
                     n_labels: int = 10) -> pa.Table:
    """Isotropic unit-norm float32 vectors with independent labels."""
    rng = np.random.default_rng([seed, 2_000_003])
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, n_labels, n_vecs), pa.int32()),
    })
