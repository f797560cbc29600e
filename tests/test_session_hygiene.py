"""Process hygiene of the session module: run scratch is removed at
exit by the process that made it, and malformed integer env knobs fall
back to their defaults instead of raising; the package reads only
deployment env settings."""

from __future__ import annotations

import os
import re
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


def _feed_files(request):
    from big_data_exercise_spark.streaming import pipelines

    from .conftest import SF_DIR

    cached = dict(pipelines._FEED_CACHE)
    pipelines.stream_events(request.getfixturevalue("spark"), SF_DIR)
    # fell back to the single-file source: no multi-file feed was built
    return pipelines._FEED_CACHE, cached


_KNOBS = {
    "SPARK_GRAFT_CPUS": _in_process(_cpus),
    "SPARK_GRAFT_STREAM_FEED_FILES": _in_process(_feed_files),
}


@pytest.mark.parametrize("name", sorted(_KNOBS))
def test_malformed_int_knob_warns_and_falls_back(request, name):
    """Both integer knobs warn on a malformed value and use the default."""
    got, want = _KNOBS[name](request, name)
    assert got == want


# What a deployment may set: parallelism, master, driver memory,
# warehouse, the streaming feed width bench.py drives, and the switch
# tests use to reach the Python reference decoder inside workers.
_DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_STREAM_FEED_FILES",
    "SPARK_GRAFT_NATIVE",
}
_ENV_READ = re.compile(
    r"""(?:os\.environ\.get\(|os\.environ\[|os\.getenv\(|env_int\()\s*["'](\w+)["']"""
)


def test_package_env_knobs_are_deployment_settings():
    """The package reads no env var beyond the deployment settings:
    size gates and tuning values are constants, not knobs. Any
    ``SPARK_GRAFT_*`` literal counts, so a name read through a variable
    is caught too; PYTHONPATH is only extended for worker imports."""
    pkg = os.path.join(REPO, "big_data_exercise_spark")
    read, named = set(), set()
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    src = fh.read()
                read |= set(_ENV_READ.findall(src))
                named |= set(re.findall(r"SPARK_GRAFT_\w+", src))
    assert read - {"PYTHONPATH"} == _DEPLOYMENT_SETTINGS
    assert named == _DEPLOYMENT_SETTINGS
