"""Duplicate clustering: near-dup pairs → connected components →
canonical-document selection.

Pair generation (exact / MinHash / SimHash / embedding-LSH) only says
"these two docs match"; a training-data pipeline needs the transitive
closure — if A≈B and B≈C, keep ONE of {A, B, C}. This module turns any
edge list into per-doc cluster assignments with a deterministic
canonical representative (min doc_id), i.e. the "which rows survive
dedup" answer.

Algorithm: iterative min-label propagation (the Pregel formulation of
connected components). Each round every node adopts the smallest label
among itself and its neighbors; convergence in O(component diameter)
rounds. Near-dup graphs are locally dense (duplicate clusters are
quasi-cliques), so diameters are tiny — 3-5 rounds in practice.

100 TB notes:
* every round is one shuffle keyed on node id — same key every round,
  so under a pre-`repartition` the exchange is reused;
* `localCheckpoint(eager=True)` per round cuts the lineage chain —
  without it the plan doubles each iteration and the job dies on
  driver-side planning long before data size matters;
* convergence is detected with a 1-row aggregate (sum of labels,
  monotonically non-increasing), not a full frame comparison.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

# Max node-label rows the contraction rewrite will force-broadcast.
# The raw payload is ~16 B/row, but a broadcast materializes as a JVM
# LongHashedRelation (typically 2-4× the raw bytes) plus a driver-side
# collect, so the 5 M default assumes this repo's 16 g driver/executor
# sizing — roughly 100 MB raw → a few hundred MB resident. Past the
# threshold the rewrite degrades to a shuffle join (correct at any
# scale, just not the local fast path). Without the hint the pull-back
# join plans as a sort-merge join even on the 1,250-doc benchmark
# corpus (PLANS.md, "Size gates: which stay and why").
_BROADCAST_LABEL_ROWS = 5_000_000

# Max CONTRACTED edge rows solved with a driver-side union-find instead
# of the iterative frontier loop (round 11). Rationale: after star
# contraction a dup graph's edge list is orders of magnitude smaller
# than the corpus (2.7 k edges from 654 k pairs at sf0.1), yet every
# frontier round costs a fixed ~3 Spark jobs — measured 2.3 s of pure
# job overhead for 4 rounds on a 1,872-node contracted graph. Below
# the gate the edges are already-materialized checkpoint blocks, so
# the collect is the same driver transfer a broadcast build would do;
# the union-find is O(E α(E)) on ≤ ~16 B/row metadata. Past the gate
# the Pregel loop runs unchanged — correct at any scale.
_DRIVER_UF_EDGES = 1_000_000


def _collect_edge_pairs(df: DataFrame):
    """Driver transfer for the union-find input: Arrow ``toPandas``
    plus a plain-int zip — measured 0.7 s vs 3.0 s for ``collect()``'s
    pickled Rows at 654 k edges (guide §6: Arrow for driver
    transfers)."""
    pdf = df.toPandas()
    return zip(
        pdf[df.columns[0]].to_numpy().tolist(),
        pdf[df.columns[1]].to_numpy().tolist(),
    )


def _driver_union_find(rows) -> dict:
    """Min-root union-find over (src, dst) rows: returns {node: root}
    with root = min node id of the component — the same label the
    frontier loop converges to. Path-halving keeps it near-linear."""
    parent: dict = {}

    def find(x):
        r = parent.get(x, x)
        while r != parent.get(r, r):
            parent[r] = parent.get(parent[r], parent[r])
            r = parent[r]
        parent[x] = r
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def _driver_components(edges: DataFrame, key: str) -> DataFrame:
    """(key, cluster_id) for every node the edge list touches, solved
    by the driver union-find and handed back as an Arrow
    ``LocalRelation`` — no parallelize job, no Python worker."""
    roots = _driver_union_find(_collect_edge_pairs(edges))
    return edges.sparkSession.createDataFrame(
        pa.table({
            key: pa.array(list(roots), pa.int64()),
            "cluster_id": pa.array(list(roots.values()), pa.int64()),
        })
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(node) + (src, dst) → (node, cluster_id).

    ``nodes`` must have one column ``node`` covering every vertex
    (singletons included); ``edges`` columns ``src``/``dst``. The
    cluster id is the minimum node id in the component — stable under
    re-runs and re-partitioning.

    Two phases:

    1. **Star contraction** (one pass over the edge list): every node
       adopts ``l(u) = min(u, min-neighbor(u))`` — l(u) is u itself or
       a direct neighbor, so it stays inside u's component — and every
       edge is rewritten to ``(l(u), l(v))``. On near-dup graphs
       (quasi-cliques) this collapses each dense cluster to ~1
       representative, shrinking a multi-million-edge input to a few
       hundred contracted edges BEFORE any iteration.
    2. **Components of the contracted graph**: below a row-count gate
       the contracted edge list (orders of magnitude smaller than the
       corpus on dup graphs) is solved with a driver union-find — one
       collect of already-materialized metadata plus one broadcast
       pull-back join. Past the gate, frontier (delta) propagation:
       only nodes whose label just DECREASED send messages — the
       classic Pregel "vote to halt" refinement; per-round cost is
       O(edges incident to the frontier). Convergence = empty
       frontier. The final label is pulled back through the
       contraction map.

    The pair list — the dominant intermediate at 100 TB — is
    materialized exactly ONCE (localCheckpoint; on a real cluster,
    DISK_ONLY persist or a checkpoint dir). Naively symmetrizing it
    with ``edges.union(edges.flip)`` would re-execute the whole pair
    *generation* subtree once per union branch (persist caches the
    union's output, not its inputs — measured as the dominant cost of
    this operator before the checkpoint). After the checkpoint, the
    full list is scanned three times (two min-aggregations + the
    contraction rewrite) and never shuffled at 2× size.
    """
    # --- phase 0: small graphs solve locally ----------------------
    # The edge list is checkpointed either way (see docstring); its
    # count is one cheap scan of cached blocks. Below the gate the
    # whole graph is ≤ ~16 MB of (long, long) metadata — the same
    # bytes a broadcast build would pull to the driver — so components
    # come from one union-find pass instead of the contraction's three
    # edge-list aggregations plus the frontier loop's per-round jobs.
    # Above the gate, star contraction shrinks the graph by orders of
    # magnitude (quasi-clique dup graphs), and the CONTRACTED edge
    # list re-enters the same decision; only a pathological contracted
    # graph (> gate reps in long chains) pays the Pregel loop.
    e = edges.filter(F.col("src") != F.col("dst")).localCheckpoint()
    if e.count() <= _DRIVER_UF_EDGES:
        comp = _driver_components(e, "node")
        return nodes.join(F.broadcast(comp), "node", "left").select(
            "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
        )

    # --- phase 1: star contraction --------------------------------
    m1 = e.groupBy("src").agg(F.min("dst").alias("mn")).withColumnRenamed("src", "node")
    m2 = e.groupBy("dst").agg(F.min("src").alias("mn")).withColumnRenamed("dst", "node")
    minn = m1.union(m2).groupBy("node").agg(F.min("mn").alias("mn"))
    lab = (
        nodes.join(minn, "node", "left")
        .select(
            "node",
            F.least(F.col("node"), F.coalesce("mn", F.col("node"))).alias("rep"),
        )
        .localCheckpoint()  # cut lineage: the pull-back below must not
        # re-trigger pair generation
    )
    # lab is one row per NODE — corpus-scale, not size-invariant. A
    # checkpointed frame keeps only its pre-checkpoint size estimate
    # (far past the broadcast threshold; PLANS.md "Size gates"), so
    # Catalyst never broadcasts it on its own and the rewrite runs as
    # a sort-merge join (the AQE byte-coalesce
    # trap PLANS.md documents); the explicit hint is the measured
    # local win. But force-broadcasting 10⁹ node labels is an executor
    # OOM at the 100 TB regime, so the hint is GATED on the
    # materialized row count (lab is already checkpointed — the count
    # is one cheap scan of cached blocks). The final pull-back join
    # runs its own gate on comp's (much smaller) count below.
    _maybe = (
        F.broadcast
        if lab.count() <= _BROADCAST_LABEL_ROWS
        else (lambda df: df)
    )
    lsrc = lab.select(F.col("node").alias("src"), F.col("rep").alias("rsrc"))
    ldst = lab.select(F.col("node").alias("dst"), F.col("rep").alias("rdst"))
    ce_dir = (
        e.join(_maybe(lsrc), "src")
        .join(_maybe(ldst), "dst")
        .filter(F.col("rsrc") != F.col("rdst"))
        .select(F.col("rsrc").alias("src"), F.col("rdst").alias("dst"))
        .distinct()
        .localCheckpoint()  # tiny; avoids re-running the rewrite per union branch
    )
    # --- phase 2: components of the contracted graph --------------
    # Fast path (round 11): below the gate, solve the contracted graph
    # with a driver union-find — the edges are already-materialized
    # checkpoint blocks (the collect moves the same bytes a broadcast
    # build would), and it replaces the per-round job overhead of the
    # frontier loop (~3 jobs/round) with ONE collect + one broadcast
    # pull-back join. Reps untouched by any contracted edge keep their
    # own label via the left join's coalesce — exactly the frontier
    # loop's fixpoint for message-less nodes.
    if ce_dir.count() <= _DRIVER_UF_EDGES:
        comp = _driver_components(ce_dir, "rep")
        return (
            lab.join(F.broadcast(comp), "rep", "left")
            .select(
                "node",
                F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"),
            )
        )

    ce = (
        ce_dir.union(
            ce_dir.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # tiny post-contraction; safe to scan per round
    )
    cnodes = lab.select(F.col("rep").alias("node")).distinct()

    # --- phase 2 (fallback): frontier propagation -----------------
    state = cnodes.select(
        "node", F.col("node").alias("label"), F.lit(True).alias("chg")
    ).localCheckpoint()
    for _ in range(max_iter):
        frontier = state.filter("chg").select(
            F.col("node").alias("src"), F.col("label").alias("msg")
        )
        msgs = (
            ce.join(frontier, "src")
            .groupBy("dst")
            .agg(F.min("msg").alias("nbr_label"))
        )
        cur = state.select("node", "label")
        state = (
            cur.join(msgs, cur.node == msgs.dst, "left")
            .select(
                cur.node.alias("node"),
                F.least(cur.label, F.coalesce(msgs.nbr_label, cur.label)).alias(
                    "label"
                ),
                (F.coalesce(msgs.nbr_label, cur.label) < cur.label).alias("chg"),
            )
            .localCheckpoint()  # cut lineage: plan size stays O(1) per round
        )
        # empty frontier == fixpoint; probe the checkpointed state.
        if state.filter("chg").limit(1).count() == 0:
            break
    comp = state.select(F.col("node").alias("rep"), F.col("label").alias("cluster_id"))
    # The pull-back join gates on COMP's own count, not lab's: comp is
    # one row per post-contraction representative — typically orders of
    # magnitude smaller than lab — so a corpus whose raw label table is
    # past the broadcast threshold usually still earns the broadcast
    # fast path here. state is localCheckpointed, so the count is one
    # cheap scan of cached blocks; skipped when lab already passed
    # (comp has at most as many rows as lab).
    _maybe_comp = (
        F.broadcast
        if _maybe is F.broadcast or comp.count() <= _BROADCAST_LABEL_ROWS
        else (lambda df: df)
    )
    return lab.join(_maybe_comp(comp), "rep").select("node", "cluster_id")


def dedup_cluster_assignment(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-document dedup verdict from a verified near-dup pair list.

    Output: (doc_id, cluster_id, keep) — ``keep`` marks the canonical
    representative (min doc_id of its component); dropping every
    ``keep = false`` row is the dedup action. Singleton docs are their
    own cluster and always kept.
    """
    nodes = documents.select(F.col("doc_id").alias("node"))
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    cc = connected_components(nodes, edges)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    )


def kept_corpus_stats(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup action, end to end: pairs → components → drop every
    non-canonical doc → per-language survival stats. This is the query
    a training-data pipeline actually ships — the rest of the dedup
    stack exists to produce its ``keep`` column."""
    verdicts = dedup_cluster_assignment(documents, pairs)
    return (
        documents.join(verdicts, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )

