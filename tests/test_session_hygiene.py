"""Process hygiene of the session module: run scratch is removed at
exit by the process that made it, and malformed integer env knobs fall
back to their defaults instead of raising."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import os, sys
from big_data_exercise_spark.session import scratch_dir
d = scratch_dir("bdes_probe_")
root = os.path.dirname(d)
if sys.argv[1] == "fork":
    pid = os.fork()
    if pid == 0:
        sys.exit(0)  # a normal exit: the inherited exit handler runs
    os.waitpid(pid, 0)
    print("kept" if os.path.isdir(d) else "gone")
"""


def _run_child(tmp_path, mode: str) -> str:
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, mode],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    return r.stdout.strip()


@pytest.mark.parametrize("mode", ["plain", "fork"])
def test_scratch_root_removed_at_exit_by_its_creator_only(tmp_path, mode):
    out = _run_child(tmp_path, mode)
    if mode == "fork":
        # the grandchild's exit left the child's scratch in place
        assert out == "kept"
    # the child's own exit removed its whole scratch root
    assert [e for e in os.listdir(tmp_path) if e.startswith("bdes_")] == []


def _import_time(module: str, attr: str, default: int):
    """Probe for a knob read at import: import in a fresh interpreter."""
    def probe(request, name):
        code = f"import {module} as m; print(m.{attr})"
        env = {**os.environ, name: "1e6", "PYTHONPATH": REPO}
        r = subprocess.run(
            [sys.executable, "-c", code],
            env=env, capture_output=True, text=True, timeout=120,
        )
        assert r.returncode == 0, r.stderr
        assert f"{name}='1e6' is not an integer" in r.stderr
        return int(r.stdout), default
    return probe


def _in_process(call):
    """Probe for a knob read per call: call under the malformed value."""
    def probe(request, name):
        mp = request.getfixturevalue("monkeypatch")
        mp.setenv(name, "1e6")
        with pytest.warns(UserWarning, match=f"{name}='1e6' is not an integer"):
            return call(request)
    return probe


def _cpus(request):
    from big_data_exercise_spark.session import default_parallelism

    return default_parallelism(), os.cpu_count() or 8


def _reader_batch(request):
    from big_data_exercise_spark.session import READER_BATCH_DEFAULT, bound_reader_batch

    from .conftest import SF_DIR

    return bound_reader_batch(request.getfixturevalue("spark"), SF_DIR), READER_BATCH_DEFAULT


def _feed_files(request):
    from big_data_exercise_spark.streaming import pipelines

    from .conftest import SF_DIR

    cached = dict(pipelines._FEED_CACHE)
    pipelines.stream_events(request.getfixturevalue("spark"), SF_DIR)
    # fell back to the single-file source: no multi-file feed was built
    return pipelines._FEED_CACHE, cached


_KNOBS = {
    "SPARK_GRAFT_CPUS": _in_process(_cpus),
    "SPARK_GRAFT_READER_BATCH": _in_process(_reader_batch),
    "SPARK_GRAFT_STREAM_FEED_FILES": _in_process(_feed_files),
    "SPARK_GRAFT_DRIVER_PR_EDGES": _import_time(
        "big_data_exercise_spark.operators.graph", "_DRIVER_PR_EDGES", 1_000_000),
    "SPARK_GRAFT_DRIVER_UF_EDGES": _import_time(
        "big_data_exercise_spark.dedup.cluster", "_DRIVER_UF_EDGES", 1_000_000),
    "SPARK_GRAFT_BROADCAST_LABEL_ROWS": _import_time(
        "big_data_exercise_spark.dedup.cluster", "_BROADCAST_LABEL_ROWS", 5_000_000),
    "SPARK_GRAFT_BROADCAST_SET_ROWS": _import_time(
        "big_data_exercise_spark.dedup.minhash", "_BROADCAST_SET_ROWS", 1_000_000),
}


@pytest.mark.parametrize("name", sorted(_KNOBS))
def test_malformed_int_knob_warns_and_falls_back(request, name):
    """Four of these knobs are read at import, where a ValueError would
    make the package unimportable; all seven warn and use the default."""
    got, want = _KNOBS[name](request, name)
    assert got == want
