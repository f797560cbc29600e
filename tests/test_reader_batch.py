"""Giant-row reader-batch bound (round-10 verdict item 3).

The vectorized parquet reader allocates whole columnar batches before
any operator can spill; on a 10 MB-row documents corpus a 4096-row
batch × N concurrent tasks was the round-9 spill probe's only OOM at
a 1.5 GiB heap. session.bound_reader_batch keys the batch ROW count
off the documents footer (n_chars max statistic) so giant corpora get
a byte-bounded batch while normal corpora keep the 4096 default —
these lanes pin the keying logic on both corpus classes.
"""
from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_exercise_spark.session import (
    READER_BATCH_DEFAULT,
    READER_BATCH_KEY,
    READER_BATCH_TARGET_BYTES,
    bound_reader_batch,
)

from .conftest import SF_DIR


def _giant_dir(tmp_path, max_chars: int) -> str:
    d = str(tmp_path)
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["tiny", "x" * 1000], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["a", "b"], pa.string()),
            # the stats key under test — the value, not the text bytes,
            # drives the bound (real corpora keep them consistent)
            "n_chars": pa.array([4, max_chars], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))
    return d


def test_uniform_corpus_keeps_default(spark):
    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))
    assert bound_reader_batch(spark, SF_DIR) == READER_BATCH_DEFAULT
    assert spark.conf.get(READER_BATCH_KEY) == str(READER_BATCH_DEFAULT)


def test_giant_corpus_bounds_batch(spark, tmp_path):
    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))
    d = _giant_dir(tmp_path, 10_000_000)
    rows = bound_reader_batch(spark, d)
    assert rows < READER_BATCH_DEFAULT
    # the bound honors the byte budget with the 2x multibyte factor
    assert rows == max(4, READER_BATCH_TARGET_BYTES // (2 * 10_000_000))
    assert spark.conf.get(READER_BATCH_KEY) == str(rows)
    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))


def test_load_table_engages_bound(spark, tmp_path):
    from big_data_exercise_spark.tables import load_table

    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))
    d = _giant_dir(tmp_path, 10_000_000)
    df = load_table(spark, d, "documents")
    assert int(spark.conf.get(READER_BATCH_KEY)) < READER_BATCH_DEFAULT
    # the bounded read still returns every row
    assert df.count() == 2
    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))


def test_mixed_dir_session_resets_default(spark, tmp_path):
    """Round-11 (round-10 advice): after a giant-doc dir lowers the
    session-global batch size, a later load of a NORMAL dir must put
    the full-size default back — otherwise every subsequent scan in a
    mixed-dir session silently reads with the reduced batch."""
    spark.conf.set(READER_BATCH_KEY, str(READER_BATCH_DEFAULT))
    d = _giant_dir(tmp_path, 10_000_000)
    assert bound_reader_batch(spark, d) < READER_BATCH_DEFAULT
    assert int(spark.conf.get(READER_BATCH_KEY)) < READER_BATCH_DEFAULT
    # normal dir in the same session: conf restored, not just returned
    assert bound_reader_batch(spark, SF_DIR) == READER_BATCH_DEFAULT
    assert spark.conf.get(READER_BATCH_KEY) == str(READER_BATCH_DEFAULT)
    # a dir with no documents table restores too
    empty = tmp_path / "no_documents"
    empty.mkdir()
    assert bound_reader_batch(spark, str(empty)) == READER_BATCH_DEFAULT
    assert spark.conf.get(READER_BATCH_KEY) == str(READER_BATCH_DEFAULT)
