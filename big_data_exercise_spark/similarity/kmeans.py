"""Lloyd's k-means over embedding vectors, expressed relationally —
the iterative-algorithm archetype (assign → update → repeat) that a
training-data pipeline runs to build IVF coarse quantizers and corpus
cluster maps (generalizes similarity/knn.py's one-shot IVF centroid
assignment into the loop that *produces* such centroids).

Engine-exact by construction: embeddings are fixed-point quantized to
non-negative BIGINTs up front (``floor((v + 1) * 1e6)``), so every
downstream step is integer arithmetic —

* squared-L2 distances are BIGINT sums (order-independent, no float
  accumulation drift);
* centroid updates use floor division (``DIV`` in Spark, ``//`` in
  DuckDB — identical on non-negative operands, which the +1 shift
  guarantees for this embedding family);
* argmin ties break on the lower cluster id.

A SQL oracle can therefore replay the whole loop bit-for-bit with
unrolled CTEs (plans/registry.py generates it per iteration count).

Scale shape (100 TB): the long form shuffles once at build; each
iteration is one broadcast join (centroids are k x dims rows — tiny
by definition) + two aggregations keyed on (vid, cid) / (cid, dim).
No all-pairs, no driver collect; per-round lineage is cut with
localCheckpoint (cluster deployments: persist(DISK_ONLY) or a
checkpoint dir). Iteration count is a parameter, not a convergence
probe, so round count — and the oracle — is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

QSCALE = 1000000.0  # fixed-point: q = floor((v + 1) * QSCALE), non-negative


def quantized_long(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vid, dim, q): vectors exploded to long form and fixed-point
    quantized. The float → double widening, +1 shift, scale and floor
    are each exact IEEE ops, so any engine derives the same BIGINT."""
    return embeddings.select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("dim", "v")
    ).select(
        "vid",
        "dim",
        F.floor((F.col("v").cast("double") + F.lit(1.0)) * F.lit(QSCALE))
        .cast("long")
        .alias("q"),
    )


def _assign(long_df: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the (cid, dim, qc) table,
    sum squared diffs per (vid, cid), argmin via struct-min (ties →
    lower cid)."""
    diff = F.col("q") - F.col("qc")
    dists = (
        long_df.join(F.broadcast(cents), "dim")
        .groupBy("vid", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    best = dists.groupBy("vid").agg(F.min(F.struct("dist", "cid")).alias("b"))
    return best.select("vid", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))


def _update(long_df: DataFrame, assign_df: DataFrame) -> DataFrame:
    """Centroid refresh: per-(cid, dim) floor-divided mean of member
    coordinates. A cluster that lost every member simply drops out
    (deterministically, in both engines)."""
    return (
        long_df.join(assign_df.select("vid", "cid"), "vid")
        .groupBy("cid", "dim")
        .agg(F.expr("CAST(sum(q) DIV count(1) AS BIGINT)").alias("qc"))
    )


def kmeans_assignments(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """(vec_id, cluster, dist) after ``iters`` Lloyd updates and a
    final assignment. Init: the vectors with the ``k`` smallest ids
    are the seed centroids (cluster = rank order) — deterministic, no
    RNG to reconcile across engines. Every assignment step is the
    relational broadcast join of :func:`_assign`, the same form
    ``kmeans_sql`` unrolls. A ragged vector is assigned by the partial
    distance over the dims it shares with each centroid; a NULL
    embedding contributes no rows and drops out."""
    # Lazy checkpoints throughout (round 11): every table is still
    # materialized once and shared by all consumers, but inside the
    # consuming job instead of as per-round driver barriers (job-count
    # probe: 22 jobs at sf0.01 with eager rounds).
    long_df = quantized_long(embeddings).localCheckpoint(eager=False)
    seeds = (
        long_df.select("vid")
        .distinct()
        .orderBy("vid")
        .limit(k)
        # rank the k seed rows WITHOUT a window (a constant partition
        # key gets constant-folded out of the spec and still warns):
        # cid = count of smaller vids, via the k²-cheap broadcast
        # triangular join — k rows, no sort, no single-partition stage.
        .withColumn("_one", F.lit(1))
    )
    from big_data_exercise_spark.operators.windows import (
        broadcast_prefix_offsets,
    )

    seeds = broadcast_prefix_offsets(seeds, "vid", "_one", "cid").select(
        "vid", F.col("cid").cast("int").alias("cid")
    )
    cents = (
        long_df.join(seeds, "vid")
        .select("cid", "dim", F.col("q").alias("qc"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        assigned = _assign(long_df, cents)
        cents = _update(long_df, assigned).localCheckpoint(eager=False)
    final = _assign(long_df, cents)
    return final.select(
        F.col("vid").alias("vec_id"),
        F.col("cid").cast("int").alias("cluster"),
        F.col("dist").alias("dist"),
    )


def kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """DuckDB oracle replaying kmeans_assignments bit-for-bit:
    unrolled CTE chain c0 → (a1, c1) → ... → final assignment."""
    lf = """lf AS (
      SELECT vid, u.dim AS dim, u.q AS q FROM (
        SELECT vec_id AS vid,
               unnest([{'dim': i - 1,
                        'q': CAST(floor((CAST(embedding[i] AS DOUBLE) + 1.0)
                                        * 1000000.0) AS BIGINT)}
                       for i in range(1, len(embedding) + 1)]) AS u
        FROM embeddings) t),
    init AS (
      SELECT vid, CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS cid
      FROM (SELECT DISTINCT vid FROM lf ORDER BY vid LIMIT {k}) s),
    c0 AS (
      SELECT i.cid, l.dim, l.q AS qc FROM lf l JOIN init i USING (vid))"""
    parts = [lf.replace("{k}", str(k))]
    for it in range(1, iters + 2):
        parts.append(f"""d{it} AS (
      SELECT l.vid, c.cid,
             CAST(SUM((l.q - c.qc) * (l.q - c.qc)) AS BIGINT) AS dist
      FROM lf l JOIN c{it - 1} c USING (dim) GROUP BY 1, 2),
    a{it} AS (
      SELECT vid, cid, dist FROM (
        SELECT vid, cid, dist,
               row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
        FROM d{it}) r WHERE rn = 1)""")
        if it <= iters:
            parts.append(f"""c{it} AS (
      SELECT a.cid, l.dim, CAST(SUM(l.q) // COUNT(*) AS BIGINT) AS qc
      FROM lf l JOIN a{it} a USING (vid) GROUP BY 1, 2)""")
    final = iters + 1
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT vid AS vec_id, CAST(cid AS INTEGER) AS cluster, dist
    FROM a{final}"""
    )
