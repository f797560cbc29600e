"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.measure import (
    Tracer, highest_tail, ledger, source_log_batches,
)


def test_highest_tail_leaves_ten_beyond():
    # p90 of 100 samples leaves exactly 10 beyond; p95 would need 200.
    assert highest_tail(list(range(1, 101))) == (90.0, 90)
    assert highest_tail(list(range(1, 201))) == (95.0, 190)
    p, v = highest_tail(list(range(30, 0, -1)))  # unsorted input
    assert (round(p, 2), v) == (66.67, 20)
    assert highest_tail(list(range(10))) is None
    assert highest_tail([7.0] * 11) == (100.0 / 11, 7.0)


def _bytes_of(table, path):
    pq.write_table(table, path)
    with open(path, "rb") as f:
        return f.read()


def test_generator_is_byte_identical_per_seed(tmp_path):
    for spec in (gen.FIRE_FEED, gen.JOIN_FEED):
        a = _bytes_of(gen.events_file(spec, 7, 3), tmp_path / "a.parquet")
        b = _bytes_of(gen.events_file(spec, 7, 3), tmp_path / "b.parquet")
        c = _bytes_of(gen.events_file(spec, 8, 3), tmp_path / "c.parquet")
        assert a == b
        assert a != c
    d1 = _bytes_of(gen.documents_table(5, 50), tmp_path / "d1.parquet")
    d2 = _bytes_of(gen.documents_table(5, 50), tmp_path / "d2.parquet")
    e1 = _bytes_of(gen.embeddings_table(5, 50), tmp_path / "e1.parquet")
    e2 = _bytes_of(gen.embeddings_table(5, 50), tmp_path / "e2.parquet")
    assert d1 == d2 and e1 == e2


def test_corpus_has_the_sf01_shape():
    docs = gen.documents_table(3, 2000).to_pandas()
    words = docs.text.str.split()
    assert words.map(len).between(10, 100).all()
    assert len({w for ws in words for w in ws}) <= 31
    # A near-copy keeps its source's first ten words; random documents
    # over 31 words never share them.
    copies = 1 - words.map(lambda ws: " ".join(ws[:10])).nunique() / len(docs)
    assert 0.03 < copies < 0.08
    assert (docs.n_chars == docs.text.str.len()).all()
    vecs = np.stack(gen.embeddings_table(3, 100).column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)


def test_feed_disorder_stays_inside_the_watermark():
    # Every row of file k is newer than (max event time of files < k)
    # minus the 10-minute watermark delay, so no row is ever late.
    spec = gen.JOIN_FEED
    prev_max = None
    for k in range(20):
        ts = gen.events_file(spec, 1, k).column("ts").cast("int64").to_pylist()
        if prev_max is not None:
            assert min(ts) > prev_max - 600 * 1_000_000
        prev_max = max(ts) if prev_max is None else max(prev_max, max(ts))
    t = gen.events_file(spec, 1, 0)
    assert set(t.column("event_type").to_pylist()) <= {"click", "purchase"}
    assert 0 in t.column("user_id").to_pylist()  # the hot user


def test_open_loop_writer_records_schedule(tmp_path):
    tables = [gen.events_file(gen.FIRE_FEED, 1, i) for i in range(4)]
    w = gen.OpenLoopWriter(tables, str(tmp_path), 10, 0.01)
    w.start()
    w.join()
    assert sorted(w.due) == [10, 11, 12, 13]
    assert all(w.written[i] >= w.due[i] for i in w.due)
    assert w.due[13] - w.due[10] == pytest.approx(0.03)
    assert sorted(os.listdir(tmp_path)) == [gen.file_name(i) for i in range(10, 14)]
    assert [gen.file_index(str(tmp_path / gen.file_name(i))) for i in (10, 13)] == [10, 13]


def _write_log(path, entries):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _write_offsets(path, per_source):
    """An ``offsets/<batch>`` file: header, metadata, one line per source."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = ["v1", json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0})]
    lines += ["-" if k is None else json.dumps({"logOffset": k}) for k in per_source]
    with open(path, "w") as f:
        f.write("\n".join(lines))


def test_file_to_batch_map_goes_through_offsets_log(tmp_path):
    uri = "file://" + str(tmp_path / "feed") + "/"
    ckpt = tmp_path / "ckpt"

    def entry(i, k):
        return {"path": uri + gen.file_name(i), "timestamp": 0, "batchId": k}

    # Source 0 logged files 0-1 at offset 0, 2 at offset 1 (both compacted
    # into 1.compact) and 3-4 at offset 2.
    src0 = ckpt / "sources" / "0"
    _write_log(str(src0 / "1.compact"), [entry(0, 0), entry(1, 0), entry(2, 1)])
    _write_log(str(src0 / "2"), [entry(3, 2), entry(4, 2)])
    _write_log(str(src0 / ".2.crc"), [])  # hidden files are ignored
    # Source 1 reads the same directory (a self-join) and saw file 2 only
    # at its offset 2.
    src1 = ckpt / "sources" / "1"
    _write_log(str(src1 / "0"), [entry(0, 0), entry(1, 0)])
    _write_log(str(src1 / "2"), [entry(2, 2), entry(3, 2), entry(4, 2)])
    # Batches 1 and 3 read no new file (watermark-only), so batch ids run
    # ahead of the log offsets; source 1 had nothing new in batch 2.
    offsets = {0: (0, 0), 1: (0, 0), 2: (1, None), 3: (1, 0), 4: (2, 2)}
    for b, per_source in offsets.items():
        _write_offsets(str(ckpt / "offsets" / str(b)), per_source)
    _write_offsets(str(ckpt / "offsets" / ".4.crc"), (9, 9))
    got = {gen.file_index(p): b for p, b in source_log_batches(str(ckpt)).items()}
    assert got == {0: 0, 1: 0, 2: 4, 3: 4, 4: 4}
    # One source: file 2 was read in batch 2, not at "batch" 1.
    one = tmp_path / "one"
    _write_log(str(one / "sources" / "0" / "1.compact"),
               [entry(0, 0), entry(1, 0), entry(2, 1)])
    for b, k in {0: 0, 1: 0, 2: 1}.items():
        _write_offsets(str(one / "offsets" / str(b)), (k,))
    got = {gen.file_index(p): b for p, b in source_log_batches(str(one)).items()}
    assert got == {0: 0, 1: 0, 2: 2}
    assert source_log_batches(str(tmp_path / "missing")) == {}


def test_ledger_sums_selected_groups_and_counts_shared_stages_once():
    jobs = {0: ("pb:a:0:build", [0]), 1: ("pb:a:0:run", [1, 2]),
            2: ("other", [3]), 3: ("pb:a:0:run", [2])}
    m = {"tasks": 1.0, "run_ms": 10.0, "cpu_ms": 5.0, "gc_ms": 0.0,
         "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
         "spill_bytes": 0.0, "input_bytes": 100.0}
    stages = {s: dict(m) for s in range(4)}
    stages[2]["run_ms"] = 30.0
    tot = ledger(jobs, stages, lambda g: g.startswith("pb:"))
    assert tot["jobs"] == 3 and tot["stages"] == 3
    assert tot["run_ms"] == 50.0 and tot["top_stage_ms"] == 30.0
    assert tot["input_bytes"] == 300.0


def test_tracer_self_time_and_disabled_noop():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["name"] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1]["parent"] == 0
    st = t.self_times_ms()
    total = (t.spans[0]["end"] - t.spans[0]["start"]) * 1e3
    assert st["outer"] + st["inner"] == pytest.approx(total)
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
