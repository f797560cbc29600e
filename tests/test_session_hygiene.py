"""Process hygiene of the session module: run scratch is removed at
exit by the process that made it, malformed integer env knobs fall
back to their defaults instead of raising, the package reads only
deployment env settings, and a ``local[N]`` JVM is sized to N cores."""

from __future__ import annotations

import json
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


def _run_child(tmp_path, script: str, *args: str, unset: str = "", **extra: str) -> str:
    """Run ``script`` in a fresh interpreter with ``unset`` removed from
    the environment and ``extra`` added; return its stdout."""
    env = {k: v for k, v in os.environ.items() if k != unset}
    env.update(extra, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", script, *args],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    return r.stdout.strip()


@pytest.mark.parametrize("mode", ["plain", "fork"])
def test_scratch_root_removed_at_exit_by_its_creator_only(tmp_path, mode):
    out = _run_child(tmp_path, _CHILD, mode)
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
    from big_data_exercise_spark.session import default_parallelism, usable_cores

    return default_parallelism(), usable_cores()


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


_PINNED = """
import os
os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
from big_data_exercise_spark.session import default_parallelism
print(default_parallelism())
"""


@pytest.mark.skipif(not hasattr(os, "sched_setaffinity"), reason="no CPU affinity")
def test_default_parallelism_counts_the_cores_this_process_may_use(tmp_path):
    """A child pinned to one CPU defaults to local[1], not the host's count."""
    assert _run_child(tmp_path, _PINNED, unset="SPARK_GRAFT_CPUS") == "1"


_JVM = """
import json, sys
from big_data_exercise_spark.session import get_spark
spark = get_spark(cpus=int(sys.argv[1]), extra_conf=json.loads(sys.argv[2]))
jvm = spark.sparkContext._jvm
print(json.dumps({
    "processors": jvm.java.lang.Runtime.getRuntime().availableProcessors(),
    "probe": jvm.java.lang.System.getProperty("bdes.probe"),
    "default_opts": spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions", None),
}))
spark.stop()
"""


def _jvm_child(tmp_path, cpus: int, extra_conf: dict) -> dict:
    """A fresh interpreter, so get_spark starts its own gateway JVM."""
    out = _run_child(tmp_path, _JVM, str(cpus), json.dumps(extra_conf),
                     unset="SPARK_GRAFT_MASTER", SPARK_GRAFT_DRIVER_MEM="1g")
    return json.loads(out.splitlines()[-1])


def test_local_one_jvm_sees_one_processor_and_keeps_caller_java_options(tmp_path):
    """local[1] gets a 1-processor JVM; the caller's extraJavaOptions still apply."""
    got = _jvm_child(tmp_path, 1, {"spark.driver.extraJavaOptions": "-Dbdes.probe=1"})
    assert got["processors"] == 1
    assert got["probe"] == "1"


def test_local_at_usable_cores_leaves_the_jvm_unsized(tmp_path):
    """At N = the usable cores the JVM gets no new option."""
    from big_data_exercise_spark.session import usable_cores

    cores = usable_cores()
    if cores < 2:
        pytest.skip("one-core host: local[1] is already the whole host")
    got = _jvm_child(tmp_path, cores, {})
    assert got == {"processors": cores, "probe": None, "default_opts": None}
