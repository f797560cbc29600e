"""Generic conf-invariance sweep: run every registry query under an
arbitrary session-conf override and compare value hashes against the
repo-default run (sf0.001). Usage:

    python tools/conf_invariance_sweep.py spark.sql.adaptive.enabled=false
    python tools/conf_invariance_sweep.py spark.sql.ansi.enabled=true -- q1 q2

Overridden keys are popped from session.RUNTIME_CONF first, so the
builders' tune_session normalization leaves them alone and every
expression actually executes under the override (verified after each
query). It is the one conformance runner: a multi-valued axis is
one run per value against the base at shuffle.partitions=8. Axes
swept clean (recorded in PLANS.md):

* spark.sql.ansi.enabled=true        — 231 ok / 0 crash / 0 diff
  (every expression executes under strictness; the builders' own
  reset of ANSI on a foreign session is pinned by
  tests/test_ansi_safety.py)
* spark.sql.shuffle.partitions=1 and =32 — 231 / 0 / 0 each
  (results must not depend on shuffle layout: per-partition limits,
  first/last without a total order, partition-local tie-breaks)
* spark.sql.adaptive.enabled=false   — 222 ok / 0 crash / 0 diff
  (this tool: results must never depend on AQE replanning)
* spark.sql.execution.arrow.maxRecordsPerBatch=13 — 223 / 0 / 0
  (this tool, round 6: every pandas-UDF/mapInPandas kernel must be
  batch-boundary independent — tiny batches shake out per-batch state)
* spark.sql.files.maxPartitionBytes=65536 + openCostInBytes=0
  — 223 / 0 / 0 (this tool, round 6: input-split boundaries are what
  actually vary on a 1000-executor cluster; results must not depend
  on scan partitioning)
* spark.sql.codegen.wholeStage=false + codegen.factoryMode=NO_CODEGEN
  — 223 / 0 / 0 (this tool, round 6: interpreted expression
  evaluation must agree bit-for-bit with whole-stage codegen — the
  fallback path a 100 TB cluster actually takes whenever a generated
  method exceeds the JIT/64KB limits on wide plans)
* spark.sql.parquet.enableVectorizedReader=false — 223 / 0 / 0
  (this tool, round 6: the row-by-row parquet reader — what nested
  schemas and some encodings fall back to — must read the same values
  as the vectorized ColumnBatch path)
* spark.sql.autoBroadcastJoinThreshold=-1 — 223 / 0 / 0 (this tool,
  round 6: every Catalyst broadcast decision degraded to a shuffle
  join; results must not depend on join strategy — the axis that
  actually flips when table stats change at 100 TB)
"""
import hashlib
import os
import sys
import traceback

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def vhash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False, float_format="%.9g").encode()).hexdigest()


def main(overrides, names):
    import __spark_entry__ as entry
    import big_data_exercise_spark.session as S
    from big_data_exercise_spark.session import get_spark

    base = get_spark("conf-sweep", cpus=8, shuffle_partitions=8)
    qs = entry.queries()
    names = names or list(qs)

    h_base = {}
    for name in names:
        try:
            h_base[name] = vhash(qs[name](base, SF_DIR).toPandas())
        except Exception:
            print(f"{name}: BASELINE-CRASH (pre-existing)")
            traceback.print_exc(limit=2)

    for k in overrides:
        S.RUNTIME_CONF.pop(k, None)
    alt = base.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "8")
    for k, v in overrides.items():
        alt.conf.set(k, v)

    crash, diff, ok = [], [], []
    for i, name in enumerate(names):
        if name not in h_base:
            continue
        try:
            h = vhash(qs[name](alt, SF_DIR).toPandas())
            for k, v in overrides.items():
                assert alt.conf.get(k) == v, f"{name}: a builder reset {k}"
        except AssertionError:
            raise
        except Exception as e:
            crash.append(name)
            msg = next((l for l in str(e).splitlines() if l.strip()), type(e).__name__)[:200]
            print(f"{name}: CRASH {msg}")
            continue
        (diff if h != h_base[name] else ok).append(name)
        if h != h_base[name]:
            print(f"{name}: DIFF")
        if (i + 1) % 25 == 0:
            print(f"-- {i+1}/{len(names)}: {len(crash)} crash, {len(diff)} diff", flush=True)
    print(f"SUMMARY overrides={overrides} ok={len(ok)} crash={len(crash)} diff={len(diff)}")
    print("CRASH:", ", ".join(crash) if crash else "none")
    print("DIFF:", ", ".join(diff) if diff else "none")


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--" in argv:
        cut = argv.index("--")
        conf_args, names = argv[:cut], argv[cut + 1 :]
    else:
        conf_args, names = [a for a in argv if "=" in a], [a for a in argv if "=" not in a]
    overrides = dict(a.split("=", 1) for a in conf_args)
    if not overrides:
        raise SystemExit("usage: conf_invariance_sweep.py key=value [key=value...] [-- query...]")
    main(overrides, names)
