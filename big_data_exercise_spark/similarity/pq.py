"""Product quantization (PQ) ANN: trained sub-space codebooks,
asymmetric-distance (ADC) shortlist, exact re-rank.

The third leg of the similarity tier (knn.py = brute/IVF, lsh.py =
hyperplane buckets): PQ is the *memory* scale path. Each vector is
stored as m sub-space code bytes instead of 4·d float bytes (here
64 dims → 4 codes: 64× smaller), so a 100 TB float corpus compresses
to the point where the scored relation is a join of a code table
against a broadcast lookup table — the scan reads codes, never the
vectors. Jégou et al.'s public PQ construction, relationally:

1. **Train** — split dims into m contiguous sub-spaces and run the
   same engine-exact integer Lloyd loop as similarity/kmeans.py in
   each, all sub-spaces in ONE relational pipeline (keyed by
   ``sub = dim DIV dsub``; dims are disjoint across sub-spaces so one
   join on ``dim`` trains all m codebooks at once). Fixed-point
   quantization, floor-div centroid updates, argmin ties → lower cid:
   every step replays bit-for-bit in the DuckDB oracle (pq_sql()).
2. **Encode** — final per-(vid, sub) argmin: the code table, m rows
   per vector (m bytes in a columnar layout; the full-width vectors
   are never touched again until re-rank).
3. **ADC score** — per query, the distance from the query's sub-vector
   to EVERY centroid of every sub-space is a (n_queries · m · k)-row
   lookup table — tiny by construction, broadcast. Approximate
   distance = SUM of m LUT probes, one hash-join + partial agg over
   the code table; no vector math in the corpus pass.
4. **Shortlist + exact re-rank** — partition-local top-(r·k) per query
   under the total order (adist, vec_id) as Catalyst's WindowGroupLimit
   (Partial below the Exchange, Final above it — superset-safe: a
   global top row is a local top row), then exact integer L2 re-rank
   of the ≤ n_queries·r·k survivors against the true vectors.

Scale shape: the only full-corpus operations are the Lloyd joins
(broadcast centroid table, same as kmeans.py) and the code-table agg
(broadcast LUT). Nothing all-pairs, nothing single-partition, no
driver collect; the re-rank input is bounded by the shortlist size,
not the corpus.

Two shipped configs:

* **Oracle config** (``pq_topk`` defaults: m=4, kcent=4, iters=2,
  rerank=4) — every stage unrolls into the DuckDB oracle, which is
  what keeps the whole pipeline hash-checked; the toy codebook makes
  it a CORRECTNESS vehicle, not a quality one (measured recall@10 =
  0.20 at sf0.1 — tools/ann_recall.py).
* **Production config** (``pq_topk_prod``: m=8, kcent=256, iters=1,
  rerank=24) — the standard 64-bit PQ code (8 sub-spaces × 8-bit
  centroid ids, Jégou et al.'s PQ64 shape). Measured at sf0.1
  (2000×64-dim, 16 queries): **recall@10 = 0.994, min 0.9**
  (tools/ann_recall.py; full sweep in PLANS.md). Rows-only in the
  registry — a 256-centroid double-unrolled Lloyd CTE is not
  oracle-expressible — exactly like the minhash family's xxhash64
  production mode; the hash-checked twin above pins the machinery.
  ``train_mod`` caps the TRAINING set (vid % train_mod == 0): at
  100 TB the codebooks train on a bounded sample (the classical PQ
  recipe) while encode/score still stream the full corpus — here the
  whole 2000-vector corpus is already smaller than a production
  training sample, so the default trains on everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from big_data_exercise_spark.similarity.kmeans import QSCALE, quantized_long

N_DIMS = 64
M_SUBS = 4          # sub-spaces → dsub = 16 dims each
K_CENTS = 4         # centroids per sub-space (256 in a production byte code)
ITERS = 2           # fixed Lloyd rounds (deterministic, oracle-unrollable)
RERANK = 4          # shortlist factor: re-rank r·k ADC candidates

# production (pq_topk_prod) — PQ64: 8 sub-spaces × 8-bit codes; the
# measured-recall config (see module docstring / PLANS.md)
M_SUBS_PROD = 8
K_CENTS_PROD = 256
ITERS_PROD = 1
RERANK_PROD = 24


def _long_with_sub(embeddings: DataFrame, m: int, n_dims: int) -> DataFrame:
    dsub = n_dims // m
    return quantized_long(embeddings).withColumn(
        "sub", F.expr(f"CAST(dim DIV {dsub} AS INT)")
    )


def _assign(lf: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per (vid, sub): join on dim (dim implies sub),
    integer squared-L2 per (vid, sub, cid), struct-min argmin. The
    relational definition ``pq_sql`` unrolls, and the reference the
    Arrow kernel (:func:`_codes_arrow`) is tested against."""
    diff = F.col("q") - F.col("qc")
    dists = (
        lf.join(F.broadcast(cents.select("cid", "dim", "qc")), "dim")
        .groupBy("vid", "sub", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    best = dists.groupBy("vid", "sub").agg(F.min(F.struct("dist", "cid")).alias("b"))
    return best.select("vid", "sub", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))


def pq_codebooks(
    lf: DataFrame, assign_fn, k: int = K_CENTS, iters: int = ITERS
) -> DataFrame:
    """(sub, cid, dim, qc) codebooks for every sub-space, trained by
    ``iters`` integer Lloyd rounds. Seeds: the k smallest vids seed
    every sub-space (cid = seed rank — deterministic, no RNG).
    ``assign_fn(cents) -> (vid, sub, cid, ...)`` is the assignment
    step: ``pq_topk`` passes the Arrow kernel (:func:`_codes_arrow`),
    which avoids the kcent× join fan-out of the relational
    :func:`_assign` and is bit-identical to it."""
    from big_data_exercise_spark.operators.windows import broadcast_prefix_offsets

    seeds = (
        lf.select("vid").distinct().orderBy("vid").limit(k)
        .withColumn("_one", F.lit(1))
    )
    seeds = broadcast_prefix_offsets(seeds, "vid", "_one", "cid").select(
        "vid", F.col("cid").cast("int").alias("cid")
    )
    # Lazy checkpoints (round 11): each round's centroid table is still
    # materialized exactly once and every consumer (next round's assign
    # broadcast + the update join) reads its blocks, but materialization
    # happens inside the consuming job instead of as a synchronous
    # driver barrier — at ITERS Lloyd rounds the eager form paid one
    # full job launch per round for a k·m·dsub-row table (job-count
    # probe: pq_topk 36 jobs at sf0.01, the top of the fleet). The
    # unrolled lineage stays O(iters) deep, bounded by the fixed round
    # count.
    cents = (
        lf.join(F.broadcast(seeds), "vid")
        .select("sub", "cid", "dim", F.col("q").alias("qc"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        assigned = assign_fn(cents)
        cents = (
            lf.join(assigned.select("vid", "sub", "cid"), ["vid", "sub"])
            .groupBy("sub", "cid", "dim")
            .agg(F.expr("CAST(sum(q) DIV count(1) AS BIGINT)").alias("qc"))
            .localCheckpoint(eager=False)
        )
    return cents


def _quantize_batch(emb, width):
    """(Q, M) fixed-point quantization of a pandas object column of
    vectors into a dense (n, width) float64 matrix plus a 0/1 presence
    mask. Replicates ``quantized_long``'s posexplode semantics exactly:
    a NULL (or empty) array contributes no dims; a SHORT or LONG array
    contributes exactly its own dims (dims ≥ ``width`` cannot match
    any centroid dim and are cut); a NULL *element* is treated as an
    absent dim (the relational SUM skips the NULL term — equivalent
    whenever at least one non-NULL term overlaps; the all-NULL-terms
    corner, where the relational dist degrades to NULL, is outside
    every tested corpus and documented here rather than emulated)."""
    import numpy as np

    n = len(emb)
    Q = np.zeros((n, width), dtype=np.float64)
    M = np.zeros((n, width), dtype=np.float64)
    for j, v in enumerate(emb):
        if v is None:
            continue
        L = min(len(v), width)
        if not L:
            continue
        a = np.asarray(v[:L], dtype=np.float64)
        present = ~np.isnan(a)
        q = np.floor((a + 1.0) * QSCALE)  # == quantized_long, exact
        Q[j, :L] = np.where(present, q, 0.0)
        M[j, :L] = present
    return Q, M


def _codes_arrow(embeddings: DataFrame, cents: DataFrame, m: int, n_dims: int) -> DataFrame:
    """(vid, sub, cid) PQ codes via a broadcast-codebook Arrow kernel —
    the production encode. The relational ``_assign`` fans every
    (vid, dim) row out kcent× through its broadcast join (at kcent=256
    and 200k×64-dim vectors that is 3.3 B join rows + a 410 M-group
    aggregate — measured 236 s where this kernel runs the same
    multiply-adds in ~seconds); the fan-out exists only to keep the
    toy config oracle-unrollable, which the rows-only production mode
    does not need.

    Bit-identical to ``_assign`` on ANY corpus, ragged rows included
    (round-12, advice item): per sub-space the distance is summed over
    the INTERSECTION of the vector's dims and the centroid's dims —
    exactly what the relational join on ``dim`` computes — via
    presence masks
    (dist = (X·X)@P.T − 2·X@C.T + M@(C·C).T, every intermediate an
    exact integer < 2⁵³ in float64), with ties broken to the lowest
    cid (argmin first-hit over cid-ascending codebooks ==
    struct-min(dist, cid)). A (vid, sub) whose dims overlap no
    centroid of that sub-space yields no code row, and a NULL
    embedding yields nothing at all — matching posexplode + join.
    Sub-spaces are taken from the collected centroids themselves, so
    dims beyond ``n_dims`` (training vectors that ran long) keep their
    relational semantics too."""
    import numpy as np

    dsub = n_dims // m
    # Bounded collect: ≤ m·kcent·dsub rows (16384 at the PQ64 shape) —
    # the same broadcast-the-small-side pattern as the ADC LUT.
    crows = cents.select("sub", "cid", "dim", "qc").collect()
    width = max(n_dims, max((r["dim"] for r in crows), default=-1) + 1)
    by_sub: dict = {}
    for r in crows:
        by_sub.setdefault(r["sub"], {}).setdefault(r["cid"], {})[r["dim"]] = r["qc"]
    books = {}
    for sub, cids in sorted(by_sub.items()):
        order = sorted(cids)  # cid-ascending → argmin ties = lowest cid
        lo = sub * dsub
        hi = min(max(d for c in cids.values() for d in c) + 1, width)
        mat = np.zeros((len(order), hi - lo), dtype=np.float64)
        pres = np.zeros_like(mat)
        for row_i, cid in enumerate(order):
            for dim, qc in cids[cid].items():
                mat[row_i, dim - lo] = qc
                pres[row_i, dim - lo] = 1.0
        books[int(sub)] = (
            np.asarray(order, dtype=np.int32), mat, pres, mat * mat,
            lo, hi, bool(pres.all()),
        )

    def encode(batches):
        import pandas as pd

        if not books:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            Q, M = _quantize_batch(pdf["embedding"].to_numpy(), width)
            vids = pdf["vec_id"].to_numpy()
            out = {"vid": [], "sub": [], "cid": []}
            for sub, (cid_arr, mat, pres, mat2, lo, hi, dense) in books.items():
                x, mx = Q[:, lo:hi], M[:, lo:hi]
                dist = (x * x) @ pres.T - 2.0 * (x @ mat.T) + mx @ mat2.T
                if dense:
                    valid = mx.any(axis=1)
                else:
                    overlap = mx @ pres.T
                    np.copyto(dist, np.inf, where=overlap == 0.0)
                    valid = (overlap > 0.0).any(axis=1)
                if not valid.any():
                    continue
                idx = np.argmin(dist[valid], axis=1)
                out["vid"].append(vids[valid])
                out["sub"].append(np.full(int(valid.sum()), sub, dtype=np.int32))
                out["cid"].append(cid_arr[idx])
            if out["vid"]:
                yield pd.DataFrame(
                    {k: np.concatenate(a) for k, a in out.items()}
                )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        encode, schema="vid long, sub int, cid int"
    )


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m: int = M_SUBS,
    kcent: int = K_CENTS,
    iters: int = ITERS,
    n_dims: int = N_DIMS,
    rerank: int = RERANK,
    train_mod: int = 1,
    train_cap: int | None = None,
) -> DataFrame:
    """Top-``k`` per query (the ``n_queries`` smallest vec_ids) via
    PQ-ADC shortlist + exact re-rank. Output: (query_id, vec_id,
    adist, dist, rank) — approximate AND exact integer squared-L2, so
    the quantization error is visible in the result itself.
    ``train_mod > 1`` trains the codebooks on the deterministic
    ``vid % train_mod == 0`` slice only (the bounded-training-sample
    knob for corpora where even one full Lloyd pass is too dear);
    encode, ADC, and re-rank always cover the whole corpus.
    ``train_cap`` derives that knob from the corpus itself: one count
    picks the smallest train_mod keeping the Lloyd sample ≤ cap —
    the classical PQ recipe (codebooks train on a bounded sample, the
    full corpus is only ever encoded/scanned). Measured at 100×
    replication (200k vectors): full-corpus training is 19× the 1×
    wall while the capped path stays flat — training is the ONLY
    superlinear stage, so the cap is what makes the operator scale
    (PLANS.md round-6). That count stays a ``count()``: it reads the
    source scan, and no checkpoint of one row per vector exists to
    observe it on (``lf`` is the lazy long form, a row per dimension)."""
    lf = _long_with_sub(embeddings, m, n_dims).localCheckpoint(eager=False)
    if train_cap is not None and train_mod == 1:
        n = embeddings.count()
        train_mod = -(-n // train_cap)  # ceil: sample ≈ n/train_mod ≤ cap
    train = lf.filter(F.col("vid") % train_mod == 0) if train_mod > 1 else lf
    train_emb = (
        embeddings.filter(F.col("vec_id") % train_mod == 0)
        if train_mod > 1
        else embeddings
    )
    # Training and encode both assign with the broadcast-codebook
    # Arrow kernel, bit-identical to the relational _assign
    # (property-tested). The oracle, pq_sql(), unrolls the relational
    # form, so the hash check compares two independent algorithms.
    cents = pq_codebooks(
        train, lambda c: _codes_arrow(train_emb, c, m, n_dims), kcent, iters
    )
    codes = _codes_arrow(embeddings, cents, m, n_dims)

    qlf = lf.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("qid"), "sub", "dim", F.col("q").alias("qq")
    )
    # ADC lookup table: n_queries × m × k rows — broadcast by size.
    dq = F.col("qq") - F.col("qc")
    lut = (
        qlf.join(cents.select("cid", "dim", "qc"), "dim")
        .groupBy("qid", "sub", "cid")
        .agg(F.sum(dq * dq).alias("pdist"))
    )
    scores = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("qid", "vid")
        .agg(F.sum("pdist").alias("adist"))
        .filter(F.col("vid") != F.col("qid"))
    )

    # Shortlist: Catalyst plans ``srank <= r·k`` as a partition-local
    # WindowGroupLimit (Partial) below the Exchange and a Final one
    # above it, so only ≤ r·k rows per (query, partition) shuffle.
    shortlist_n = rerank * k
    wq = W.partitionBy("qid").orderBy("adist", "vid")
    shortlist = (
        scores.withColumn("srank", F.row_number().over(wq))
        .filter(F.col("srank") <= shortlist_n)
        .select("qid", "vid", "adist")
    )

    # Exact integer L2 re-rank over the bounded shortlist: pair each
    # candidate's dims with its query's dims. The shortlist is tiny
    # (≤ n_queries·r·k rows) → broadcast; the corpus long form is
    # probed once, pre-shrunk by a semi join on the candidate vids.
    cand_vecs = lf.join(
        F.broadcast(shortlist.select("vid").distinct()), "vid", "left_semi"
    )
    paired = cand_vecs.join(
        F.broadcast(qlf.select("qid", "dim", "qq")), "dim"
    ).join(F.broadcast(shortlist), ["qid", "vid"])
    de = F.col("q") - F.col("qq")
    reranked = paired.groupBy("qid", "vid", "adist").agg(
        F.sum(de * de).alias("dist")
    )
    wf = W.partitionBy("qid").orderBy("dist", "vid")
    return (
        reranked.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            "adist",
            "dist",
            "rank",
        )
    )


TRAIN_CAP_PROD = 50_000  # Lloyd sample bound: ~24 training vectors
# per (sub-space, centroid) cell at the PQ64 shape — past the point
# where more sample stops moving the codebooks, and the knob that
# keeps training (the only superlinear stage) flat as the corpus grows


def pq_topk_prod(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    train_mod: int = 1,
    train_cap: int | None = TRAIN_CAP_PROD,
) -> DataFrame:
    """``pq_topk`` at the production PQ64 config — 8 sub-spaces ×
    256 centroids (one byte per sub-space, the standard Jégou code
    width for 64 dims), one Lloyd round, 24·k ADC shortlist before
    the exact re-rank. This is the config a user should call: at
    sf0.1 it measures recall@10 = 0.994 (min 0.9 across 16 queries)
    against exact integer-L2 ground truth — tools/ann_recall.py —
    where the oracle config's toy codebook measures 0.20. Rows-only
    in the registry (the 256-centroid Lloyd unroll is beyond a
    practical oracle CTE), mirroring minhash_near_duplicates_prod.

    Training is capped at ``train_cap`` vectors (one cheap count
    derives the sampling stride): below the cap — every corpus this
    repo tests on — behavior is byte-identical to uncapped, and past
    it the Lloyd sample stays bounded while encode/ADC/re-rank still
    stream the full corpus. Measured at 100× replication: uncapped
    training costs 19× the 1× wall; capped runs flat (PLANS.md)."""
    return pq_topk(
        embeddings,
        n_queries=n_queries,
        k=k,
        m=M_SUBS_PROD,
        kcent=K_CENTS_PROD,
        iters=ITERS_PROD,
        rerank=RERANK_PROD,
        train_mod=train_mod,
        train_cap=train_cap,
    )


def pq_sql(
    n_queries: int = 8,
    k: int = 5,
    m: int = M_SUBS,
    kcent: int = K_CENTS,
    iters: int = ITERS,
    n_dims: int = N_DIMS,
    rerank: int = RERANK,
) -> str:
    """DuckDB oracle replaying pq_topk bit-for-bit (unrolled Lloyd
    CTEs per sub-space, ADC LUT, shortlist window, exact re-rank)."""
    dsub = n_dims // m
    lf = f"""lf AS (
      SELECT vid, u.dim AS dim, CAST(u.dim // {dsub} AS INTEGER) AS sub,
             u.q AS q FROM (
        SELECT vec_id AS vid,
               unnest([{{'dim': i - 1,
                        'q': CAST(floor((CAST(embedding[i] AS DOUBLE) + 1.0)
                                        * 1000000.0) AS BIGINT)}}
                       for i in range(1, len(embedding) + 1)]) AS u
        FROM embeddings) t),
    init AS (
      SELECT vid, CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS cid
      FROM (SELECT DISTINCT vid FROM lf ORDER BY vid LIMIT {kcent}) s),
    c0 AS (
      SELECT l.sub, i.cid, l.dim, l.q AS qc FROM lf l JOIN init i USING (vid))"""
    parts = [lf]
    for it in range(1, iters + 2):
        parts.append(f"""d{it} AS (
      SELECT l.vid, l.sub, c.cid,
             CAST(SUM((l.q - c.qc) * (l.q - c.qc)) AS BIGINT) AS dist
      FROM lf l JOIN c{it - 1} c USING (dim) GROUP BY 1, 2, 3),
    a{it} AS (
      SELECT vid, sub, cid FROM (
        SELECT vid, sub, cid,
               row_number() OVER (PARTITION BY vid, sub ORDER BY dist, cid) AS rn
        FROM d{it}) r WHERE rn = 1)""")
        if it <= iters:
            parts.append(f"""c{it} AS (
      SELECT l.sub, a.cid, l.dim, CAST(SUM(l.q) // COUNT(*) AS BIGINT) AS qc
      FROM lf l JOIN a{it} a ON l.vid = a.vid AND l.sub = a.sub
      GROUP BY 1, 2, 3)""")
    fin = iters + 1
    parts.append(f"""qlf AS (
      SELECT vid AS qid, sub, dim, q AS qq FROM lf WHERE vid < {n_queries}),
    lut AS (
      SELECT ql.qid, ql.sub, c.cid,
             CAST(SUM((ql.qq - c.qc) * (ql.qq - c.qc)) AS BIGINT) AS pdist
      FROM qlf ql JOIN c{iters} c USING (dim) GROUP BY 1, 2, 3),
    scores AS (
      SELECT t.qid, co.vid, CAST(SUM(t.pdist) AS BIGINT) AS adist
      FROM a{fin} co JOIN lut t ON co.sub = t.sub AND co.cid = t.cid
      WHERE co.vid <> t.qid GROUP BY 1, 2),
    shortlist AS (
      SELECT qid, vid, adist FROM (
        SELECT qid, vid, adist,
               row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn
        FROM scores) r WHERE rn <= {rerank * k}),
    reranked AS (
      SELECT s.qid, s.vid, s.adist,
             CAST(SUM((l.q - ql.qq) * (l.q - ql.qq)) AS BIGINT) AS dist
      FROM shortlist s
      JOIN lf l ON l.vid = s.vid
      JOIN qlf ql ON ql.qid = s.qid AND ql.dim = l.dim
      GROUP BY 1, 2, 3)""")
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT qid AS query_id, vid AS vec_id, adist, dist,
           CAST(rank AS INTEGER) AS rank FROM (
      SELECT qid, vid, adist, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rank
      FROM reranked) r WHERE rank <= {k}"""
    )
