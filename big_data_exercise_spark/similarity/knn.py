"""Approximate-nearest-neighbor search over an embedding column.

The reference carries model-output float vectors through its pipeline
(consumer_postgres_streaming.py:317-322) but never searches them; this
module supplies the north-star similarity-search operators.

* ``cosine_topk`` — brute-force: broadcast the query vector, one
  codegen'd cosine per row, TakeOrderedAndProject top-k. Exact; O(N·d)
  with NO shuffle of the embedding table (only k rows move). This is
  already the right 100 TB plan for single-query search.
* ``ivf_assignments`` / ``ivf_topk`` — IVF: deterministic centroid
  set (first n_centroids vectors), assign every vector to its nearest
  centroid once (broadcast centroids), then probe only the closest
  ``nprobe`` centroid partitions per query. At scale the assignment
  becomes a write-time partitioning (``partitionBy("centroid_id")``)
  so a probe reads only matching parquet partitions — partition
  pruning on the vector table.

All cosine math uses functions.arrays (double-precision fold, no
UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from big_data_exercise_spark.functions.arrays import (
    EMBEDDING_DIM,
    cosine as _cosine_any,
    pair_cosine,
)
from big_data_exercise_spark.functions.numeric import round_det
from big_data_exercise_spark.operators.observe import _counted_checkpoint


def cosine(a: str, b: str):
    """Fixture-width cosine over column names: codegen'd element_at
    chain built as one SQL string (bit-identical to the generic fold;
    see functions.arrays.dot_sql)."""
    return _cosine_any(a, b, dim=EMBEDDING_DIM)


def _query_vector(embeddings: DataFrame, query_id: int) -> DataFrame:
    return embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )


def cosine_topk(embeddings: DataFrame, query_id: int = 0, k: int = 10) -> DataFrame:
    """Exact cosine top-k vs the embedding of ``query_id`` (excluded
    from results). Deterministic tie-break on vec_id."""
    q = _query_vector(embeddings, query_id)
    # Two projections on purpose: round_det references its argument
    # ~6× (scaled twice + the non-finite guard), and inlined that
    # replicates the 3×64-term cosine chain past the 64 KB codegen
    # method limit (measured 2× wall at sf0.1). A non-cheap alias
    # referenced more than once is never collapsed, so the chain runs
    # once per row and the rounding sees an attribute.
    scored = (
        embeddings.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine("embedding", "q").alias("__cos_raw"))
        .select(
            "vec_id",
            "label",
            round_det(F.col("__cos_raw"), 4).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def blocked_near_duplicates(embeddings: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    Blocking turns the all-pairs O(N²) comparison into
    sum-over-blocks O(Σ|block|²): the join is an equi-join on label →
    hash-partitioned, skew handled by AQE. At 100 TB the block key
    would be an LSH bucket or IVF centroid instead of a given label —
    same plan shape.
    """
    # The probe side is explicitly round-robin repartitioned: the
    # vector table is bytes-tiny but the verify is CPU-heavy (O(d) per
    # pair), and with a broadcast dim side Spark would otherwise run
    # the whole pairwise loop in as few tasks as there are input
    # splits (1 for a small parquet file). AQE coalesces by bytes and
    # cannot see per-row cost — parallelism must be explicit here.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    # One counted checkpoint of the vectors: the label join and the
    # verify read it back instead of recomputing the upstream lineage
    # per consumer, and the verify's size gate reads its row count from
    # the checkpoint's own job. (A parquet scan has no shuffle below it,
    # so the eager checkpoint meets no AQE coalescing.)
    embeddings, m = _counted_checkpoint(embeddings)
    a = embeddings.select(F.col("vec_id").alias("id1"), "label").repartition(par)
    b = embeddings.select(F.col("vec_id").alias("id2"), "label")
    cand = (
        a.join(b, "label")
        .filter(F.col("id1") < F.col("id2"))
        .select("label", "id1", "id2")
    )
    # NULL/ragged embeddings reach the verify and come back with NULL
    # cos_raw — the threshold filter drops them.
    scored = pair_cosine(cand, embeddings, m["n"], ["label", "id1", "id2"])
    return (
        scored.select(
            "label", "id1", "id2", round_det(F.col("cos_raw"), 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assignments(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine).

    Centroids are the first ``n_centroids`` vectors by vec_id —
    deterministic 'training' so results are reproducible and
    oracle-checkable. Broadcast centroids → narrow scan + small
    row_number window per vector (partitioned by vec_id, width
    n_centroids).
    """
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c")
    )
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "label",
        "embedding",
        "centroid_id",
        cosine("embedding", "c").alias("cos_c"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_c"), "centroid_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "embedding", "centroid_id")
    )


def ivf_build(
    embeddings: DataFrame, index_dir: str, n_centroids: int = 8
) -> str:
    """Write-time IVF index: assign every vector to its centroid, then
    ``partitionBy("centroid_id")`` parquet. This is the 100 TB layout
    the assignment step exists for — a probe reads ONLY the matching
    centroid directories (static partition pruning at the scan), so
    search I/O is |probed cells| / |cells| of the table instead of a
    full scan."""
    ivf_assignments(embeddings, n_centroids).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(index_dir)
    return index_dir


def ivf_topk_indexed(
    embeddings: DataFrame,
    index_dir: str,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search against the partitioned on-disk index built by
    ``ivf_build``. The nprobe centroid ids are resolved first (tiny
    collect — nprobe values), then pushed into the scan as a partition
    filter: ``.explain`` shows PartitionFilters on centroid_id and
    only those directories are read. Same results as ``ivf_topk``."""
    spark = embeddings.sparkSession
    q = _query_vector(embeddings, query_id)
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c")
    )
    probe_ids = [
        r.centroid_id
        for r in (
            centroids.crossJoin(F.broadcast(q))
            .select("centroid_id", cosine("c", "q").alias("cos_q"))
            .orderBy(F.desc("cos_q"), "centroid_id")
            .limit(nprobe)
            .collect()
        )
    ]
    index = spark.read.parquet(index_dir).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    return (
        index.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            cosine("embedding", "q").alias("__cos_raw"),
        )
        .select(
            "vec_id",
            "label",
            "centroid_id",
            round_det(F.col("__cos_raw"), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` centroids nearest the query,
    brute-force only inside those partitions. Approximate (recall <
    1.0 when true neighbors live in unprobed cells) — the scale path;
    ``cosine_topk`` is the exact baseline."""
    assigned = ivf_assignments(embeddings, n_centroids)
    q = _query_vector(embeddings, query_id)
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c")
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", cosine("c", "q").alias("cos_q"))
        .orderBy(F.desc("cos_q"), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label", "centroid_id",
            cosine("embedding", "q").alias("__cos_raw"),
        )
        .select(
            "vec_id",
            "label",
            "centroid_id",
            round_det(F.col("__cos_raw"), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(k)
    )


def cosine_topk_batch(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Batched exact ANN: top-``k`` neighbors for EVERY query in a
    query set (here: the ``n_queries`` smallest vec_ids), in one plan.

    This is the shape a training pipeline actually runs — thousands of
    probe vectors against the corpus at once, not one. The query set
    is broadcast (it is small by definition); the corpus side streams
    through a single codegen'd cosine per (row, query) pair, never
    shuffled by the join.

    Scale shape — partition-local top-k, then merge: the plan ends in
    ``row_number().over(partitionBy(query_id)…) <= k``, which
    Catalyst's ``InferWindowGroupLimit`` plans as ``WindowGroupLimit
    … Partial`` below the Exchange (each scan partition truncates its
    own scored slice to k rows per query — narrow, nothing moves) and
    ``… Final`` above it, so the only shuffle carries ≤ k·partitions
    rows per query into the merge window, never corpus×queries rows
    (inferred for k up to ``spark.sql.optimizer.windowGroupLimitThreshold``,
    1000 by default).
    Local top-k under the same total order (cos_sim desc, vec_id asc)
    is superset-safe: every global top-k row is a local top-k row in
    its partition.

    Output: (query_id, vec_id, label, cos_sim, rank), self-matches
    excluded, ties broken on vec_id.  NaN/NULL order (dirty corpora):
    both limits sort in Spark's float total order, so a NaN cosine
    (NaN vector elements) ranks above every finite value under
    ``desc(cos_sim)`` and a NULL cosine (zero-norm division) last.
    """
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    # The raw cosine is materialized in its own projection: round_det
    # references its argument ~6×, and inlined that replicated the
    # 3×64-term chain per (row, query) pair past the 64 KB codegen
    # method limit into interpreted fallback (measured 3.5× wall at
    # sf0.1).
    scored = (
        embeddings.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", "label",
            cosine("embedding", "q").alias("__cos_raw"),
        )
        .select(
            "query_id",
            "vec_id",
            "label",
            round_det(F.col("__cos_raw"), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "cos_sim", "rank")
    )
