"""Z-order (Morton curve) data layout — multi-dimensional clustering
for scan pruning.

Sorting a table by ONE column makes parquet min/max (and partition)
pruning surgical on that column and useless on every other. Bit-
interleaving two key columns into a Morton z-value and range-
partition-sorting by it keeps BOTH dimensions locally clustered: each
output file covers a small rectangle of (dim1, dim2) space, so a scan
filtered on either dimension skips most files. This is the layout
trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY`` — here expressed
with nothing but bit arithmetic and ``repartitionByRange``, both
engine-portable.

The z-value itself is pure Column algebra (shiftleft/shiftright/AND on
BIGINTs — all codegen, no UDF), so an oracle can replay it literally.
A property test (tests/test_properties.py) verifies the layout claim
quantitatively: z-ordered range partitions cover a far smaller summed
bounding-box area than natural-order partitions over the same rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

BITS = 10  # bits per dimension → 20-bit z-value


def zvalue(a: Column, b: Column, bits: int = BITS) -> Column:
    """Morton interleave of the low ``bits`` of two non-negative
    BIGINT columns: bit i of ``a`` lands at 2i, bit i of ``b`` at
    2i+1."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def zvalue_sql(a: str, b: str, bits: int = BITS) -> str:
    """DuckDB twin of ``zvalue`` (same shifts, same bits)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_curve(events: DataFrame, top: int = 50) -> DataFrame:
    """The z-value surface over (user_id, floor(value)) — the sort key
    a ZORDER rewrite would cluster the events table by. Returns the
    curve's top corner (highest z) deterministically."""
    vbucket = F.floor(F.col("value")).cast("long")
    keyed = events.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        vbucket.alias("vbucket"),
    ).select(
        "event_id",
        "user_id",
        "vbucket",
        zvalue(F.col("user_id"), F.col("vbucket")).alias("z"),
    )
    return keyed.orderBy(F.desc("z"), "event_id").limit(top)


def fragment_write(events: DataFrame, path: str, n_files: int = 200) -> None:
    """Simulate the small-files problem: round-robin the table into
    ``n_files`` shards (what a high-frequency streaming sink or
    over-parallel ETL leaves behind). At 100 TB the cost is real:
    NameNode/manifest pressure, per-file open overhead, and scan tasks
    far smaller than a split."""
    events.repartition(n_files).write.mode("overwrite").parquet(path)


def compact(spark, src_path: str, dst_path: str, target_files: int = 8):
    """Compaction pass: coalesce the fragmented layout down to
    ``target_files`` parquet files. ``coalesce`` (not ``repartition``)
    — file merging needs NO shuffle, each output task just concatenates
    input splits; on a cluster this runs at read-bandwidth. Returns the
    compacted DataFrame reader.

    This is the OPTIMIZE/rewrite step a long-lived table needs after
    streaming ingest (reference analog: the Postgres sink tables absorb
    per-micro-batch inserts and rely on the DB's own storage to stay
    scannable; a parquet lake must compact explicitly)."""
    spark.read.parquet(src_path).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return spark.read.parquet(dst_path)


# --- clustered-layout rewrite + 2-D pruned scan (round 4) ---------------
#
# zorder_curve above exposes the hash-checked Morton PRIMITIVE; the
# functions below are the actual OPTIMIZE-ZORDER-BY surface: rewrite
# the table clustered on z(user_id, value) and run a 2-D box scan
# whose predicates prune row groups on BOTH columns. Results are
# layout-INVARIANT (the oracle computes the same box over the raw
# table — a rewrite that changed any value would hash-fail, the
# bucketing module's discipline). Box bounds derive from the table's
# own min/max, collected once and embedded as LITERALS so the parquet
# scan can push them; float arithmetic is mirrored term for term in
# the oracle's scalar subquery.
#
# Granularity is the lever (measured, sf0.01, box = 25% of users ×
# a value band): vs a value-sorted layout the z-ordered one reads
# 1.4× the rows at 32 granules, 0.71× at 128, 0.58× at 256 — a
# contiguous z range at coarse depth spans whole top-level curve
# quadrants, so per-granule min/max stay wide. A 100 TB table has
# ~10⁶ row groups, deep in the winning regime; tests/test_zorder.py
# pins the 256-granule ratio from the parquet row-group statistics
# themselves. Codes are linear min/max scalings by default;
# ``code='equi_depth'`` switches to quantile-cutpoint codes that
# balance mass per curve cell on skewed columns — measured on the
# same box: 1561 vs linear's 2190 rows at 32 granules, 1250 vs 1562
# at 64 (where it also overtakes the value-sort's 1406). Equi-depth
# moves the crossover vs a 1-D sort from ~100 granules to ~64 — a
# real shift, not the orders of magnitude folklore suggests; granule
# count remains the dominant lever.

import os as _os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from big_data_exercise_spark.session import scratch_dir

CODE_BITS = 16
CLUSTER_FILES = 64

_WRITTEN: dict[tuple, str] = {}


def _code(col, lo, hi, bits: int = CODE_BITS):
    """Normalize ``col`` into an integer code in [0, 2^bits): exact
    long arithmetic for the scale, clamped at the top edge, NULL → 0
    (nulls sort first — harmless for clustering)."""
    span = F.lit(float(hi) - float(lo))
    scaled = F.floor(
        (col.cast("double") - F.lit(float(lo))) / span * F.lit((1 << bits) - 1)
    ).cast("long")
    return F.coalesce(
        F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), scaled)), F.lit(0)
    )


def column_bounds(events: DataFrame) -> tuple[float, float, float, float]:
    """(user_lo, user_hi, value_lo, value_hi) as Python floats — one
    1-row collect, the literal-embedding exception that enables
    pushdown (same rationale as the IVF centroid resolve)."""
    r = events.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    return float(r[0]), float(r[1]), float(r[2]), float(r[3])


def _searchsorted_code(cutpoints):
    """Quantile-cutpoint code: equal MASS per code cell, so a skewed
    column can't crowd the curve into a few cells the way a linear
    min/max scale does. Rows classify in one Arrow searchsorted
    against the driver-held cutpoint array — a one-time layout cost."""
    from pyspark.sql.functions import pandas_udf

    cuts = np.array(cutpoints, dtype=float)

    @pandas_udf("long")
    def code(c: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(cuts, c.to_numpy(dtype=float), side="right").astype(
                "int64"
            )
        )

    return code


_AUTO_UTIL_THRESHOLD = 0.5


def _mass_span_utils(bounds, u01, u99, v01, v99) -> list[float]:
    """Mass-span utilization ``(p99 − p01) / (max − min)`` per
    dimension: a healthy column sits near 1.0; outliers that stretch
    the range push it toward 0 (and crowd a linear code's cells)."""
    u_lo, u_hi, v_lo, v_hi = bounds
    utils = []
    for lo, hi, p01, p99 in ((u_lo, u_hi, u01, u99), (v_lo, v_hi, v01, v99)):
        span = hi - lo
        utils.append((p99 - p01) / span if span > 0 else 1.0)
    return utils


def choose_zorder_code(
    events: DataFrame, bounds: tuple[float, float, float, float]
) -> str:
    """Skew-sampled code selection (the measured recommendation in the
    module notes, promoted to a default): linear min/max codes break
    when outliers stretch a column's range so far that most mass lands
    in a handful of code cells — the curve then can't separate the
    mass region and pruning dies on that dimension.  Below
    ``_AUTO_UTIL_THRESHOLD`` utilization on either dimension the
    quantile-cutpoint code wins (equal mass per cell by construction).
    ``write_zordered(code='auto')`` fuses this decision into its
    single cutpoint-quantile pass; this standalone form exists for
    callers that only want the verdict."""
    (u01, u99), (v01, v99) = events.approxQuantile(
        ["user_id", "value"], [0.01, 0.99], 0.001
    )
    utils = _mass_span_utils(bounds, u01, u99, v01, v99)
    return "equi_depth" if min(utils) < _AUTO_UTIL_THRESHOLD else "linear"


def write_zordered(
    events: DataFrame,
    out_dir: str,
    bounds: tuple[float, float, float, float],
    bits: int = CODE_BITS,
    files: int = CLUSTER_FILES,
    code: str = "auto",
) -> str:
    """Rewrite ``events`` clustered on z(user_id, value): range
    shuffle on the z-value (``zvalue`` above — the same hash-checked
    Morton interleave zorder_curve exposes), z-sorted within
    partitions, one file per range so each file's row groups carry
    tight min/max on BOTH columns.  ``code='equi_depth'`` balances
    mass per curve cell for skewed columns (module notes carry the
    measured effect); in that mode ``bounds`` is unused (cutpoints ARE
    the scale) and ``bits`` is capped at 8 — 2^bits−1 cutpoints per
    dimension live on the driver — with anything larger rejected
    rather than silently clamped.  The default ``code='auto'`` samples
    each dimension's mass-span utilization and picks the cutpoint code
    for skewed data, linear otherwise — decided and (when cutpoints
    win) supplied by ONE fused approxQuantile pass, not a probe pass
    plus a cutpoint pass.  In auto mode ``bits > 8`` stays legal
    (linear may win and use them all), so when the cutpoint code wins
    the layout is CLAMPED to 8 bits/dimension instead of raising —
    the auto caller asked for a policy decision, not a specific code,
    and a data-dependent error would make ``auto`` unusable; callers
    needing >8-bit cutpoint rejection should pass
    ``code='equi_depth'`` explicitly."""
    u_lo, u_hi, v_lo, v_hi = bounds
    cuts = None
    if code == "auto":
        bits_eq = min(bits, 8)
        cut_probs = [i / (1 << bits_eq) for i in range(1, 1 << bits_eq)]
        probs = sorted({0.01, 0.99, *cut_probs})
        uq, vq = events.approxQuantile(["user_id", "value"], probs, 0.001)
        i01, i99 = probs.index(0.01), probs.index(0.99)
        utils = _mass_span_utils(bounds, uq[i01], uq[i99], vq[i01], vq[i99])
        if min(utils) < _AUTO_UTIL_THRESHOLD:
            code = "equi_depth"
            bits = bits_eq
            idx = [probs.index(p) for p in cut_probs]
            cuts = ([uq[i] for i in idx], [vq[i] for i in idx])
        else:
            code = "linear"
    if code == "equi_depth":
        if bits > 8:
            raise ValueError(
                "equi_depth codes support at most 8 bits/dimension "
                f"(got {bits}): 2^bits-1 cutpoints are driver-held"
            )
        if cuts is None:
            probs = [i / (1 << bits) for i in range(1, 1 << bits)]
            # ONE quantile pass computes both dimensions' cutpoints
            cuts = events.approxQuantile(["user_id", "value"], probs, 0.001)
        ucuts, vcuts = cuts
        z = zvalue(
            _searchsorted_code(ucuts)(F.col("user_id")),
            _searchsorted_code(vcuts)(F.col("value")),
            bits,
        )
    else:
        z = zvalue(
            _code(F.col("user_id"), u_lo, u_hi, bits),
            _code(F.col("value"), v_lo, v_hi, bits),
            bits,
        )
    (
        events.withColumn("__z", z)
        .repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def write_sorted(events: DataFrame, out_dir: str, col: str = "value",
                 files: int = CLUSTER_FILES) -> str:
    """Single-column-sorted comparison layout (what a naive ORDER BY
    rewrite produces): perfect stats on ``col``, scattered on
    everything else. Exists for the prunability A/B test."""
    (
        events.repartitionByRange(files, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def _layout_for(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame,
    bounds: tuple[float, float, float, float],
) -> str:
    """Written-once-per-process layout dir under the run's scratch
    root.

    Contract: ``events`` must be the FULL table for ``sf_dir`` — the
    memo is keyed on (sf_dir, bounds), so a same-bounds but
    differently-filtered frame would silently reuse the first write.
    The bounds key catches the common divergence (a filtered frame
    usually shifts min/max); the registry's only caller always passes
    the full table."""
    key = (_os.path.abspath(sf_dir), bounds)
    if not _os.path.isdir(_WRITTEN.get(key, "")):
        _WRITTEN[key] = write_zordered(events, scratch_dir("bdes_zorder_"), bounds)
    return _WRITTEN[key]


def box_bounds(bounds: tuple[float, float, float, float]) -> tuple[float, ...]:
    """The deterministic 2-D query box: fractional positions inside
    each column's observed range. Float expression order mirrors the
    oracle's scalar subquery term for term."""
    u_lo, u_hi, v_lo, v_hi = bounds
    return (
        u_lo + 0.30 * (u_hi - u_lo),
        u_lo + 0.55 * (u_hi - u_lo),
        v_lo + 0.20 * (v_hi - v_lo),
        v_lo + 0.45 * (v_hi - v_lo),
    )


def zorder_box_stats(spark: SparkSession, sf_dir: str, events: DataFrame) -> DataFrame:
    """2-D box aggregate over the z-ordered layout: both predicates
    reach the parquet scan as pushed literals and prune row groups on
    both columns at once. Results are layout-invariant (the oracle
    computes the same box over the raw table)."""
    from big_data_exercise_spark.functions.numeric import exact_sum

    bounds = column_bounds(events)
    u1, u2, v1, v2 = box_bounds(bounds)
    layout = spark.read.parquet(_layout_for(spark, sf_dir, events, bounds))
    return (
        layout.filter(
            F.col("user_id").between(F.lit(u1), F.lit(u2))
            & F.col("value").between(F.lit(v1), F.lit(v2))
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
