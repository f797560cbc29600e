"""SparkSession factory and runtime tuning.

The reference builds its sessions ad hoc per consumer with Arrow
*disabled* and a fixed ``shuffle.partitions=4``
(reference: projects/absa_streaming/scripts/consumer_postgres_streaming.py:198-215,
projects/vehicle_counting/scripts/vehicle_consumer.py:24-35). We invert
both decisions: Arrow on (vectorized JVM↔Python transfer for every
pandas UDF) and AQE on (runtime shuffle-partition coalescing, skew-join
splitting) — see SURVEY.md §4.

Scale notes (100 TB / 1000-executor target):

* AQE handles post-shuffle partition sizing at any scale, so we do not
  hardcode a small partition count; the static ``shuffle.partitions``
  is just the pre-AQE upper bound and should be ~2-3× total cores on a
  real cluster.
* ``session.timeZone=UTC`` pins timestamp semantics so event-time
  operators (windows, date_trunc) are cluster-placement independent —
  and match the DuckDB oracle.
* ``files.maxPartitionBytes`` stays at the 128 MB default: at 100 TB
  that yields ~800k input splits, which Spark's driver handles fine and
  keeps per-task memory bounded.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import warnings

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session (including one handed to
# us by an external driver). Keep to confs that are safe post-startup.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark refuses by default; read as long and convert in tables.py
    # (ns → µs integer division, matching DuckDB's truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI off: the reference's semantics are permissive (NULL on bad
    # cast, e.g. CAST(value AS STRING) chains) and the DuckDB oracle
    # comparison only exercises well-typed data anyway.
    "spark.sql.ansi.enabled": "false",
}


def env_int(name: str, default: int) -> int:
    """Integer env knob: unset returns ``default``; a malformed value
    warns and returns ``default`` instead of raising."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(f"{name}={raw!r} is not an integer; using {default!r}")
        return default


# The run's scratch root: one directory per process under the temp dir,
# created on first use and removed by the exit handler below.
_SCRATCH: dict = {"root": "", "pid": None}
_SCRATCH_LOCK = threading.Lock()


@atexit.register
def _remove_scratch_root() -> None:
    # A forked child inherits this handler; only the creating process
    # may remove the root, or a child's exit would delete live scratch.
    if _SCRATCH["pid"] == os.getpid():
        shutil.rmtree(_SCRATCH["root"], ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory for run-scoped scratch (checkpoints, round-trip
    files, layout copies, embedded databases). Every one lives under the
    process's scratch root, which is removed at interpreter exit; a root
    that has disappeared, or one inherited across a fork, is replaced by
    a new one on the next call."""
    with _SCRATCH_LOCK:
        root = _SCRATCH["root"]
        if _SCRATCH["pid"] != os.getpid() or not os.path.isdir(root):
            root = tempfile.mkdtemp(prefix="bdes_run_")
            _SCRATCH.update(root=root, pid=os.getpid())
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def default_parallelism() -> int:
    return env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 8)


def _pin_pythonpath() -> None:
    """Self-locate for Spark Python workers: pickled UDFs / Python data
    sources reference this package by module name, and local-mode
    workers resolve imports through the PYTHONPATH captured when the
    JVM starts.  Called from :func:`get_spark` immediately before
    session construction — NOT at package import — so embedding
    applications that merely ``import big_data_exercise_spark`` see no
    process-global mutation (round-3 advisor finding); the side effect
    happens only when a session is actually being created."""
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Used both by our own factory and on sessions created by the test
    driver, so oracle-critical settings (UTC, Arrow) always hold.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; keep going
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


READER_BATCH_KEY = "spark.sql.parquet.columnarReaderBatchSize"
READER_BATCH_DEFAULT = 4096
# Per-batch byte budget for the vectorized reader on giant-row tables:
# 32 MB × concurrent tasks stays far below any sane executor heap
# (round-9 spill probe: at a 1.5 GiB heap / 8 tasks the reader's
# full-size 4096-row batches over 10 MB documents were the first
# allocation to die — before any operator could spill).
READER_BATCH_TARGET_BYTES = 32 << 20


def bound_reader_batch(spark: SparkSession, sf_dir: str) -> int:
    """Bound the vectorized parquet reader's batch ROW COUNT for
    giant-row document corpora (round-9 verdict item: the reader
    allocates whole batches before operators can spill, so a 10 MB-row
    table × 4096-row batches × N concurrent tasks OOMs a small heap
    that every downstream operator would have survived via spill).

    Keyed off the documents table's own footer, driver-side and
    Spark-job-free: the ``n_chars`` column's parquet max statistic is
    the corpus's largest row (bytes ≈ chars for this corpus; a 2×
    safety factor covers multibyte text), falling back to the text
    column's per-row-group mean when stats are absent. Uniform corpora
    (max row ~KB) keep the 4096 default — the bound only engages when
    a batch of 4096 maximal rows could not fit the byte budget, so
    contract hashes and bench plans on normal dirs are untouched.

    Session-global by Spark's design (the conf is read per query
    execution): on a giant-doc dir other tables in the same session
    read with the same smaller batch — survival margin over scan
    micro-efficiency, which is the right trade exactly where this
    engages.
    """
    def _restore_default() -> int:
        # Reset the session-global conf on every path that decides the
        # DEFAULT is right: after one giant-doc dir lowers the batch
        # size, later loads of normal dirs in the same session must get
        # their full-size reader batches back (round-10 advice — the
        # no-op path previously left the reduced batch in place, a
        # silent scan-throughput tax on every mixed-dir session).
        spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))
        return READER_BATCH_DEFAULT

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.isfile(path):
        return _restore_default()
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        max_row_bytes = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == "n_chars" and c.statistics is not None \
                        and c.statistics.has_min_max:
                    max_row_bytes = max(max_row_bytes, 2 * int(c.statistics.max))
                elif c.path_in_schema == "text" and max_row_bytes == 0:
                    max_row_bytes = max(
                        max_row_bytes,
                        c.total_uncompressed_size // max(1, rg.num_rows),
                    )
    except Exception:
        return _restore_default()
    if max_row_bytes * READER_BATCH_DEFAULT <= READER_BATCH_TARGET_BYTES:
        return _restore_default()
    rows = max(4, min(READER_BATCH_DEFAULT,
                      READER_BATCH_TARGET_BYTES // max(1, max_row_bytes)))
    spark.conf.set(READER_BATCH_KEY, str(rows))
    return rows


def get_spark(
    app_name: str = "big-data-exercise-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    Local mode is a stand-in for the real cluster: one JVM, N threads.
    All scale-relevant behavior (partitioning, shuffles, AQE, broadcast
    thresholds) is configured identically to what a cluster deployment
    would use, so plans observed locally are the plans we'd get at scale.
    """
    _pin_pythonpath()
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Static conf: the warehouse is a deployment path; by default
        # it is run scratch, never the repo working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or scratch_dir("bdes_wh_"),
        )
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark, shuffle_partitions)
