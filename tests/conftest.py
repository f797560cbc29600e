"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connection, and the Spark-vs-DuckDB comparison helper that mirrors the
driver's correctness gate (sorted columns, sorted rows, tolerant float
compare)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_exercise_spark.session import get_spark  # noqa: E402
from big_data_exercise_spark.tables import TABLES, table_path  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---- suite budget (round-12, verdict item 1b) -------------------------
# The full suite outgrew the verification budget (VERIFY_r11 recorded a
# ~90% cutoff with zero failures). The DEFAULT lane — what a bare
# `pytest tests/` runs — keeps the oracle-parity queries at sf0.001,
# the plan-property pins and the codec/equivalence pins, and SKIPS
# every test marked `slow`: the randomized fuzz campaigns and the
# streaming soak/feed-width sweeps. The deterministic gates — the
# ANSI-identity tests for minhash prod, minhash vocab and ssjoin
# (test_ansi_safety.py) and the multi-executor local-cluster contract
# replay (test_local_cluster.py) — run in the default lane.
# SPARK_GRAFT_FULL_TESTS=1 runs everything.
_FULL = os.environ.get("SPARK_GRAFT_FULL_TESTS", "0") not in ("", "0")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: randomized fuzz and streaming soak lanes — skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if _FULL:
        return
    skip = pytest.mark.skip(
        reason="slow exploration lane — set SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdes-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    # tz-naive everything (Spark/UTC vs DuckDB naive)
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            try:
                out[c] = out[c].dt.tz_localize(None)
            except TypeError:
                pass
    return out.sort_values(by=list(out.columns), ignore_index=True)


def assert_frames_match(spark_df, duck_df: pd.DataFrame, float_tol: float = 1e-9):
    left = normalize(spark_df.toPandas())
    right = normalize(duck_df)
    assert list(left.columns) == list(right.columns), (
        f"columns differ: {list(left.columns)} vs {list(right.columns)}"
    )
    assert len(left) == len(right), f"row counts differ: {len(left)} vs {len(right)}"
    for c in left.columns:
        lv, rv = left[c].tolist(), right[c].tolist()
        for i, (a, b) in enumerate(zip(lv, rv)):
            if a is None or (isinstance(a, float) and math.isnan(a)):
                assert b is None or (isinstance(b, float) and math.isnan(b)), (
                    f"{c}[{i}]: {a!r} vs {b!r}"
                )
            elif isinstance(a, float) or isinstance(b, float):
                assert b == pytest.approx(a, abs=float_tol, rel=1e-9), (
                    f"{c}[{i}]: {a!r} vs {b!r}"
                )
            else:
                assert str(a) == str(b), f"{c}[{i}]: {a!r} vs {b!r}"
