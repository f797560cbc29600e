"""Multi-executor topology lane: replay a representative slice of the
driver contract under ``local-cluster[2,2,2048]`` — real executor
JVMs, cross-process broadcast, per-executor Python workers, RDD blocks
on executor block managers.  ``local[N]`` (every other test) runs all
tasks inside the driver JVM, which structurally cannot catch:

* broadcast values that only work because the "broadcast" never
  crossed a process boundary;
* Python workers that import the package only because the driver's
  ``sys.path`` leaked into them (here each executor forks its own
  daemon from the captured PYTHONPATH);
* lazily-localCheckpointed blocks living on executor block managers
  (the minhash/closure pipelines) rather than in the driver;
* bucketed ``saveAsTable`` tables resolved by executors through the
  shared metastore.

Runs in a SUBPROCESS because one JVM cannot host two masters and the
shared session fixture already owns ``local[8]``.  The full 221-query
contract was replayed green under ``local-cluster[4,4,4096]`` in
round 6 (PLANS.md); this lane keeps the capability pinned at a CI
budget (~45 s).  The two embedded-Derby queries stay excluded from
any multi-executor run: embedded Derby is single-JVM by design
(each executor booting the same database file is a limitation of the
sandbox stand-in, not of the JDBC operator).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One query per multi-executor risk surface (see module docstring).
LANE = [
    "regional_customers",        # cross-process broadcast dim join
    "bucketed_order_revenue",    # bucketed tables via shared metastore
    "minhash_near_duplicates",   # lazy localCheckpoint blocks on executors
    "png_pixel_stats",           # mapInPandas: per-executor Python workers
    "stream_tumbling_counts",    # streaming micro-batches across executors
    "dedup_cluster_assignment",  # iterative checkpoint-per-round closure
    "utf8_decode_accounting",    # ArrowEvalPython over binary columns
]


def test_contract_green_under_local_cluster():
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER="local-cluster[2,2,2048]",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_SF_DIR=os.environ.get(
            "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
        ),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "driver_contract.py"), *LANE],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"local-cluster contract failed (rc={proc.returncode}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )
    assert "BAD: none" in proc.stdout, proc.stdout[-2000:]
    # every lane query must have been hash-checked, not just error-free;
    # parse the tool's per-query JSON payload rather than matching a
    # repr substring (format/key-order independent)
    statuses: dict[str, dict] = {}
    for line in proc.stdout.splitlines():
        name, sep, payload = line.partition(": {")
        if sep:
            try:
                statuses[name] = json.loads("{" + payload)
            except json.JSONDecodeError:
                continue
    for name in LANE:
        st = statuses.get(name)
        assert st is not None, f"{name} missing:\n{proc.stdout[-2000:]}"
        assert st.get("rows_match") and st.get("schema_match") and st.get(
            "hash_match"
        ), f"{name} failed: {st}\n{proc.stdout[-2000:]}"
