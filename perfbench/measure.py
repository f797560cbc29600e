"""Measurement primitives: percentiles, process-tree CPU and memory, the Spark
status-store stage ledger, streaming progress and the file → micro-batch
map read from a checkpoint's source and offsets logs, and in-memory spans.

Nothing here changes what the engine does; the ledger and progress
readers only query state Spark keeps anyway.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MIN_BEYOND = 10


# ------------------------------------------------------------ percentiles

def highest_tail(values: list[float],
                 min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """``(p, value)`` for the highest nearest-rank percentile ``p`` (the
    smallest value with at least ``p`` % of the samples at or below it)
    that still has ``min_beyond`` samples beyond it, or ``None`` when
    there are too few samples for any: a tail read off fewer samples is
    one or two outliers, not a percentile."""
    n = len(values)
    if n <= min_beyond:
        return None
    rank = n - min_beyond
    return 100.0 * rank / n, sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _cpu_s(pid: int) -> float:
    """CPU seconds of one process, reaped children included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[0] is state (field 3); utime..cstime are fields 14..17.
    return sum(int(x) for x in fields[11:15]) / _CLK


def _pss(pid: int) -> int:
    """Proportional set size in bytes. PSS splits pages shared between
    the forked Python workers, so summing it over the tree counts each
    page once, where summed RSS would count it once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return 1024 * next(int(line.split()[1]) for line in f
                               if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


class ProcTreeMonitor:
    """CPU seconds and peak memory (PSS) of this process and every
    descendant: the Spark JVM and its Python workers.

    CPU is read on demand and counts reaped children through
    ``cutime``/``cstime``, less the monitor thread's own time. PSS is
    sampled once a second on a background thread: reading
    ``smaps_rollup`` walks every mapping of the JVM's heap and cost
    about 37 ms of CPU a read on a 4-core VM, which at five reads a
    second took a fifth of a core from the run it measured."""

    def __init__(self, root: int | None = None, period_s: float = 1.0):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak_pss = 0
        self._own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu_s(self) -> float:
        return sum(_cpu_s(pid) for pid in process_tree(self.root)) - self._own_cpu_s

    def sample_pss(self) -> int:
        pss = sum(_pss(pid) for pid in process_tree(self.root))
        self.peak_pss = max(self.peak_pss, pss)
        return pss

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample_pss()
            self._own_cpu_s = time.thread_time()

    def __enter__(self) -> "ProcTreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ stage ledger

EXEC_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "top_stage_ms")


def _opt(o):
    return o.get() if o.isDefined() else None


def job_stages(spark) -> dict[int, tuple[str | None, list[int]]]:
    """job id → (job group, stage ids) from the status store."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = {}
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        ids = j.stageIds()
        out[int(j.jobId())] = (_opt(j.jobGroup()),
                               [int(ids.apply(i)) for i in range(ids.size())])
    return out


def stage_metrics(spark) -> dict[int, dict[str, float]]:
    """stage id → executor metrics summed over its completed attempts."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    out: dict[int, dict[str, float]] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        m = out.setdefault(int(s.stageId()), dict.fromkeys(
            ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "input_bytes"), 0.0))
        m["tasks"] += s.numTasks()
        m["run_ms"] += s.executorRunTime()
        m["cpu_ms"] += s.executorCpuTime() / 1e6
        m["gc_ms"] += s.jvmGcTime()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["input_bytes"] += s.inputBytes()
    return out


def ledger(jobs: dict[int, tuple[str | None, list[int]]],
           stages: dict[int, dict[str, float]],
           keep) -> dict[str, float]:
    """Sum the stage metrics of every job whose group satisfies
    ``keep(group)``. A stage shared by two jobs counts once."""
    picked = [jid for jid, (g, _) in jobs.items() if keep(g)]
    sids = {s for jid in picked for s in jobs[jid][1] if s in stages}
    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    tot["jobs"] = float(len(picked))
    tot["stages"] = float(len(sids))
    for s in sids:
        for k, v in stages[s].items():
            tot[k] += v
        tot["top_stage_ms"] = max(tot["top_stage_ms"], stages[s]["run_ms"])
    return tot


# ------------------------------------------------------------ streaming

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in (query.recentProgress or [])]


def _log_lines(path: str) -> list[str]:
    """The lines of a checkpoint log file after its ``v1`` header."""
    with open(path) as f:
        return f.read().splitlines()[1:]


def _log_files(directory: str) -> list[str]:
    if not os.path.isdir(directory):
        return []
    return [os.path.join(directory, n) for n in os.listdir(directory)
            if not n.startswith(".") and not n.endswith(".tmp")]


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """file path → the micro-batch that read it, from the checkpoint.

    A file source logs each new file under its own log offset, in
    ``sources/<n>/<k>[.compact]`` (one JSON entry per file, whose
    ``batchId`` field is that log offset). ``offsets/<b>`` holds, after
    a metadata line, one line per source: the log offset micro-batch
    ``b`` read up to (``{"logOffset": k}``) or ``-``. The two numberings
    part as soon as a batch reads no new file — a join runs such a
    batch to move its watermark — so a file logged at offset ``k`` was
    read by the first batch whose offset for that source reaches ``k``.
    A file read by two sources (a self-join) maps to the later batch:
    output that needs both sides cannot exist before then."""
    reach: dict[int, list[tuple[int, int]]] = {}
    for path in _log_files(os.path.join(checkpoint, "offsets")):
        batch = os.path.basename(path)
        if not batch.isdigit():
            continue
        for n, line in enumerate(_log_lines(path)[1:]):
            if line.strip() not in ("", "-"):
                reach.setdefault(n, []).append(
                    (int(batch), json.loads(line)["logOffset"]))
    out: dict[str, int] = {}
    for n, marks in reach.items():
        marks.sort()
        logged: dict[str, int] = {}
        for path in _log_files(os.path.join(checkpoint, "sources", str(n))):
            for line in _log_lines(path):
                if line.strip():
                    e = json.loads(line)
                    logged[e["path"]] = min(logged.get(e["path"], e["batchId"]),
                                            e["batchId"])
        for path, k in logged.items():
            b = next((b for b, off in marks if off >= k), None)
            if b is not None:
                out[path] = max(out.get(path, b), b)
    return out


# ------------------------------------------------------------ spans

class Tracer:
    """Spans kept in memory and written once at the end. Disabled, every
    call is a no-op apart from the ``with`` itself."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed by the caller, such as one taken on a callback
        thread while the main thread holds the enclosing span open."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children
        cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - c) * 1e3
        return out
