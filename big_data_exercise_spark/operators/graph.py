"""PageRank over the customer–supplier trade graph — the second
iterative-algorithm archetype (message passing / power iteration)
alongside k-means (similarity/kmeans.py) and connected components
(dedup/cluster.py).

Graph: an undirected bipartite graph linking each customer to every
supplier that ever fulfilled one of its line items (orders ⋈
lineitem, distinct pairs). Node ids interleave the two key spaces
(customer → 2·custkey, supplier → 2·suppkey + 1) so one BIGINT column
carries both without collision.

Engine-exact by construction: ranks are scaled integers
(SCALE = 10^12 ≙ probability 1). Every step — the uniform init
``SCALE DIV n``, the per-neighbor contribution ``r DIV deg``, the
damped update ``(15·(SCALE DIV n)) DIV 100 + (85·Σcontrib) DIV
100`` — is non-negative integer arithmetic, where Spark's ``DIV``
(truncating) and DuckDB's ``//`` (flooring) agree. Sums of integers
are order-independent, so a SQL oracle replays the power iteration
bit-for-bit with unrolled CTEs (``pagerank_sql``). Every node has
degree ≥ 1 (the node set IS the edge endpoints), so there is no
dangling-mass term.

Scale shape (100 TB): the symmetric edge list is materialized once
(localCheckpoint; DISK_ONLY persist on a cluster) and each iteration
is one join + one aggregation keyed on node id — the same exchange
every round, reusable under a pre-repartition. State is one row per
node. In the distributed regime there is no driver-side collect: the
node count enters the plan as a broadcast 1-row aggregate, not a
Python scalar. Below a row-count gate (``_DRIVER_PR_EDGES``, 1 M
symmetric edges — the same shape as the closure's union-find gate)
the power iteration runs on the driver over one Arrow ``toPandas`` of
the already-materialized symmetric edge list: at toy scale each
distributed round costs ~3 scheduler jobs of pure overhead for a
graph whose whole edge list moves in well under a second, and the
integer arithmetic makes the numpy replay EXACT (sums of non-negative
int64 are order-independent; ``//`` == ``DIV`` on non-negatives), so
the gate changes the wall, never the output — pinned by
``test_pagerank_driver_replay_equivalence``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

SCALE = 10**12  # fixed-point: rank 1.0 ≙ SCALE

# Driver-solve gate for the power iteration (row count of the
# SYMMETRIC edge list). Same pattern as dedup/cluster.py's
# _DRIVER_UF_EDGES: below it, iterating on the driver replaces
# ~3 scheduler jobs per round; past it, the relational loop runs
# unchanged (correct at any scale).
_DRIVER_PR_EDGES = 1_000_000


def trade_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Distinct (u, v) customer→supplier edges with interleaved ids."""
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("u"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("v"),
        )
        .distinct()
    )


def _driver_pagerank(sym: DataFrame, iters: int, top: int) -> DataFrame | None:
    """Numpy replay of the power iteration over one Arrow transfer of
    the symmetric edge list — bit-identical to the relational loop:
    every quantity is non-negative int64 (``//`` == truncating ``DIV``;
    integer sums are order-independent) and the worst intermediate,
    ``85 · Σcontrib ≤ 85 · SCALE = 8.5e13``, is far inside int64.

    Precondition (round-12 advice item): NODE IDS must be
    non-negative — the kind/entity_id projection uses Python ``%``/
    ``//`` where the relational loop uses Spark's sign-preserving
    ``%`` and truncating ``DIV``, which disagree on negatives.
    ``trade_edges`` ids are non-negative by construction
    (2·custkey / 2·suppkey+1); a caller feeding the public
    ``pagerank(edges)`` negative ids gets the relational loop instead
    (returns None → the caller falls back), never a divergent replay."""
    import numpy as np

    pdf = sym.toPandas()
    u = pdf["u"].to_numpy(dtype=np.int64)
    v = pdf["v"].to_numpy(dtype=np.int64)
    # Every node occurs as a source in the symmetric closure, so the
    # sorted unique sources ARE the node set and v maps by bisection.
    nodes, u_idx = np.unique(u, return_inverse=True)
    if len(nodes) and int(nodes[0]) < 0:
        return None  # negative ids: Python // and % diverge from DIV/%
    v_idx = np.searchsorted(nodes, v)
    deg = np.bincount(u_idx, minlength=len(nodes)).astype(np.int64)
    n = len(nodes)
    r0 = SCALE // max(n, 1)  # an empty graph yields the empty relation
    r = np.full(n, r0, dtype=np.int64)
    base = np.int64((15 * r0) // 100)
    for _ in range(iters):
        c = r // deg
        sm = np.zeros(n, dtype=np.int64)
        np.add.at(sm, v_idx, c[u_idx])
        r = base + (85 * sm) // 100
    order = np.lexsort((nodes, -r))[:top]
    ids = nodes[order]
    return sym.sparkSession.createDataFrame(
        pa.table({
            "kind": pa.array(np.where(ids % 2 == 0, "customer", "supplier")),
            "entity_id": pa.array(ids // 2),
            "rank": pa.array(r[order]),
        })
    )


def pagerank(edges: DataFrame, iters: int = 3, top: int = 20) -> DataFrame:
    """Top-``top`` nodes by damped PageRank after ``iters`` power
    iterations. Output: (kind, entity_id, rank) ordered by rank desc
    with a total deterministic tie-break on the interleaved node id.
    Symmetric edge lists of at most ``_DRIVER_PR_EDGES`` rows are
    solved on the driver; larger ones run the distributed loop."""
    flip = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    # bipartite + distinct input ⇒ the flipped set is disjoint (id
    # parity differs), so a plain union IS the symmetric closure.
    # Lazy checkpoints (round 11): materialize-once semantics are
    # unchanged — the blocks just build inside the consuming job
    # instead of one synchronous driver barrier per power iteration
    # (job-count probe: 32 jobs at sf0.01 with eager rounds; the
    # unrolled lineage is bounded by the fixed iteration count).
    sym = edges.union(flip).localCheckpoint(eager=False)
    # Gate probe: a FULL count, deliberately (round-12 advice item
    # considered and measured): the count's job is what materializes
    # the lazy checkpoint blocks that the driver transfer — or the
    # distributed loop's degree aggregation — then reads, so it is
    # shared work, not extra. The suggested limit(gate+1).count()
    # short-circuit was measured SLOWER at sf0.1 (a GlobalLimit
    # gathers the first million rows into one task) and, worse, it
    # materializes only the partitions the limit touched — the
    # toPandas then re-runs the orders⋈lineitem lineage for the rest.
    if sym.count() <= _DRIVER_PR_EDGES:
        res = _driver_pagerank(sym, iters, top)
        if res is not None:
            return res  # None → negative node ids → relational loop
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    nn = F.broadcast(deg.agg(F.count("*").alias("n")))
    state = (
        deg.crossJoin(nn)
        .select("u", "deg", "n", F.expr(f"{SCALE} DIV n").alias("r"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        contrib = state.select("u", F.expr("r DIV deg").alias("c"))
        inflow = (
            sym.join(contrib, "u").groupBy("v").agg(F.sum("c").alias("sm"))
        )
        state = (
            state.join(inflow, state.u == inflow.v, "left")
            .select(
                state.u.alias("u"),
                state.deg.alias("deg"),
                state.n.alias("n"),
                F.expr(
                    f"(15 * ({SCALE} DIV n)) DIV 100"
                    " + (85 * coalesce(sm, CAST(0 AS BIGINT))) DIV 100"
                ).alias("r"),
            )
            .localCheckpoint(eager=False)  # cut recompute; plan stays O(iters)
        )
    return (
        state.orderBy(F.desc("r"), "u")
        .limit(top)
        .select(
            F.when(F.col("u") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("kind"),
            F.expr("u DIV 2").alias("entity_id"),
            F.col("r").alias("rank"),
        )
    )


def pagerank_sql(iters: int = 3, top: int = 20) -> str:
    """DuckDB oracle replaying ``pagerank`` bit-for-bit: unrolled
    power-iteration CTEs over the same integer arithmetic."""
    head = f"""e0 AS (
      SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS u,
                      CAST(l_suppkey AS BIGINT) * 2 + 1 AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
      SELECT u, deg, n, CAST({SCALE} // n AS BIGINT) AS r FROM deg, nn)"""
    parts = [head]
    for it in range(1, iters + 1):
        parts.append(f"""i{it} AS (
      SELECT s.v AS v, SUM(c.r // c.deg) AS sm
      FROM sym s JOIN r{it - 1} c ON s.u = c.u GROUP BY s.v),
    r{it} AS (
      SELECT d.u, d.deg, d.n,
             CAST((15 * ({SCALE} // d.n)) // 100
                  + (85 * COALESCE(i.sm, 0)) // 100 AS BIGINT) AS r
      FROM r0 d LEFT JOIN i{it} i ON i.v = d.u)""")
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
           CAST(u // 2 AS BIGINT) AS entity_id, r AS rank
    FROM r{iters} ORDER BY r DESC, u LIMIT {top}"""
    )


def supplier_cooccurrence(
    orders: DataFrame, lineitem: DataFrame, top: int = 20, min_shared: int = 2
) -> DataFrame:
    """Co-occurrence mining (the market-basket / collaborative-filter
    precursor): supplier pairs ranked by how many customers they
    share, among pairs sharing at least ``min_shared`` customers.

    Hot-key discipline (the round-3 fix): the customer-key self-join
    fans out quadratically in per-customer basket size BEFORE any
    count filter can prune, so the basket relation is first pruned by
    A-PRIORI MONOTONICITY — a pair's shared-customer count is bounded
    by each member's own customer count (n_shared ≤ min(cnt₁, cnt₂)),
    so suppliers appearing for fewer than ``min_shared`` customers
    cannot participate in any qualifying pair and are dropped before
    the join.  Provably exact for the ``min_shared`` floor: pruning a
    supplier never changes the count of a SURVIVING pair (counts are
    per-pair), and every pruned pair fails the floor anyway.  Cost
    falls from Σ deg(c)² over all baskets to Σ over frequent-supplier
    baskets — the long tail of one-customer suppliers (the bulk of a
    real catalog) never enters the join."""
    e = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    frequent = (
        e.groupBy("s")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_shared)
        .select("s")
    )
    e = e.join(frequent, "s", "semi")
    a = e.select("c", F.col("s").alias("s1"))
    b = e.select("c", F.col("s").alias("s2"))
    return (
        a.join(b, "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_shared_customers"))
        .filter(F.col("n_shared_customers") >= min_shared)
        .orderBy(F.desc("n_shared_customers"), "s1", "s2")
        .limit(top)
    )


def supplier_triangles(
    orders: DataFrame, lineitem: DataFrame, min_weight: int = 3
) -> DataFrame:
    """Strong-tie triangle census over the supplier co-occurrence
    graph: nodes are suppliers, an edge connects two suppliers sharing
    ≥ ``min_weight`` customers, and the output is one row of global
    graph stats — edge count, wedge count (paths of length 2), triangle
    count, and the global clustering coefficient 3·T/W.

    The algorithm is the degree-ordered orientation [Schank & Wagner
    '05 / MapReduce folklore]: orient every edge from its
    (degree, id)-smaller endpoint to the larger one; each triangle then
    has exactly ONE node with two outgoing edges, so joining the
    oriented wedge (a→b, a→c) against the oriented edge (b→c) counts
    every triangle once and never enumerates a wedge at a high-degree
    hub — out-degrees are O(√m), which is what makes triangle counting
    feasible on power-law graphs at scale. The ``min_weight`` floor is
    the semantic knob that keeps a dense co-purchase graph's edge set
    meaningful (and bounded) before any join.

    The clustering coefficient divides two exact integers — one IEEE
    division, engine-identical."""
    from big_data_exercise_spark.functions.numeric import round_det

    cs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = cs.select(F.col("s").alias("u"), "c")
    b = cs.select(F.col("s").alias("v"), "c")
    edges = (
        a.join(b, "c")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= min_weight)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    keyed = (
        sym.join(deg.withColumnRenamed("u", "u_"), F.col("u") == F.col("u_"))
        .select("u", "v", F.col("d").alias("du"))
        .join(
            deg.select(F.col("u").alias("v_"), F.col("d").alias("dv")),
            F.col("v") == F.col("v_"),
        )
        .select("u", "v", "du", "dv")
    )
    oriented = keyed.filter(
        F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    ).select("u", "v").localCheckpoint(eager=False)
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    tri_edges = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    ).union(oriented.select(F.col("v").alias("x"), F.col("u").alias("y")))
    closed = wedges.join(
        tri_edges, (F.col("b") == F.col("x")) & (F.col("c") == F.col("y"))
    )
    # Pure-plan scalars (no driver collect): three 1-row aggregates
    # cross-joined, the same shape as lsh_recall_report.
    e_cnt = edges.agg(F.count("*").alias("n_edges"))
    # d·(d−1) is always even, so DIV 2 is exact — and the sum stays in
    # int64 end to end. The float formulation (d*(d-1)/2 summed as
    # double) drifts past 2^53 and casts differently per engine
    # (Spark truncates, DuckDB rounds) — real on power-law graphs at
    # the 100 TB regime (round-6 review finding).
    w_cnt = deg.agg(
        F.sum(F.expr("(d * (d - 1)) DIV 2")).alias("n_wedges")
    )
    t_cnt = closed.agg(F.count("*").alias("n_triangles"))
    return (
        e_cnt.crossJoin(w_cnt)
        .crossJoin(t_cnt)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            # Degenerate-graph guard: if the min_weight floor empties
            # the edge set, n_wedges is 0 (or NULL from an empty sum)
            # and an unguarded division yields engine-dependent
            # NULL/NaN — both engines emit NULL via the same CASE.
            F.when(
                F.col("n_wedges") > 0,
                round_det(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 4
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("clustering_coeff"),
        )
    )


def association_rules(
    orders: DataFrame, lineitem: DataFrame, top: int = 15, min_pairs: int = 3
) -> DataFrame:
    """Association rules over the customer→supplier basket relation:
    for supplier pairs sharing ≥ ``min_pairs`` customers, support
    (share of all customers buying both), confidence in each direction
    (P(s2|s1), P(s1|s2)) and lift (observed co-occurrence over the
    independence expectation). Every metric is a ratio of exact
    integer counts — products first, ONE IEEE division each, so both
    engines agree bit-for-bit; ordering is by raw lift with a full
    (s1, s2) tie-break so the top-k cannot truncate arbitrarily.

    Shuffle shape: the distinct basket relation, one count per
    supplier, one count per pair — all map-side combinable; the final
    top-k is a TakeOrderedAndProject.

    Hot-key discipline (the round-3 fix): before the quadratic
    customer-key self-join, the basket relation is pruned to suppliers
    bought by ≥ ``min_pairs`` customers — a-priori monotonicity
    (n12 ≤ min(c1, c2)) makes this provably lossless for the
    ``min_pairs`` support floor, while the rare-supplier long tail
    (the bulk of Σ deg(c)² on a power-law catalog) never enters the
    join.  n_customers and the per-supplier counts feeding
    support/confidence/lift still come from the UNPRUNED relation, so
    every emitted metric is identical to the unpruned plan's."""
    from big_data_exercise_spark.functions.numeric import round_det

    cs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_c = cs.select("c").distinct().agg(F.count("*").alias("n_customers"))
    per_s = cs.groupBy("s").agg(F.count("*").alias("cnt"))
    cs_f = cs.join(
        per_s.filter(F.col("cnt") >= min_pairs).select("s"), "s", "semi"
    )
    a = cs_f.select(F.col("s").alias("s1"), "c")
    b = cs_f.select(F.col("s").alias("s2"), "c")
    pairs = (
        a.join(b, "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n12"))
        .filter(F.col("n12") >= min_pairs)
    )
    # No broadcast hint on per_s: it carries one row per distinct
    # supplier, which at the 100 TB regime is far past broadcast size
    # — a forced hint would override autoBroadcastJoinThreshold into a
    # driver OOM. Unhinted, Catalyst broadcasts it while it's small
    # and AQE falls back to a shuffle join when it isn't; `pairs` is
    # the post-filter small side either way (round-6 review finding).
    joined = (
        pairs.join(
            per_s.select(F.col("s").alias("s1"), F.col("cnt").alias("c1")),
            "s1",
        )
        .join(
            per_s.select(F.col("s").alias("s2"), F.col("cnt").alias("c2")),
            "s2",
        )
        .crossJoin(F.broadcast(n_c))
    )
    lift = (F.col("n12") * F.col("n_customers")) / (F.col("c1") * F.col("c2"))
    return (
        joined.select(
            "s1",
            "s2",
            "n12",
            round_det(F.col("n12") / F.col("n_customers"), 4).alias("support"),
            round_det(F.col("n12") / F.col("c1"), 4).alias("conf_1to2"),
            round_det(F.col("n12") / F.col("c2"), 4).alias("conf_2to1"),
            round_det(lift, 4).alias("lift"),
            lift.alias("_lift_raw"),
        )
        .orderBy(F.desc("_lift_raw"), "s1", "s2")
        .limit(top)
        .drop("_lift_raw")
    )
